"""Embedding similarity search (engine-added capability — SURVEY §7.7):
brute-force cosine top-k baseline + sign-LSH bucketed variant, over the
``embeddings`` fixture (array<float> column, 64-dim).

Numerics: embeddings are cast to double and the dot product is a
sequential left fold (``aggregate(zip_with(...))``) — bit-identical to
DuckDB's ``list_dot_product(::DOUBLE[])`` (verified), so rank order and
the oracle hash match exactly.

Scale posture: the query set is broadcast (k queries × N candidates is
a map-only job — no shuffle except the final per-query top-k window,
whose rank filter Spark pushes down as WindowGroupLimit). The LSH
variant cuts the candidate set by ~2^bits before scoring — the 100 TB
path. A vectorized Arrow/numpy variant (``cosine_topk_pandas``) shows
the mapInPandas route for when per-row fold cost dominates; its float
summation order differs, so it is tests-validated rather than
oracle-hashed.
"""

from __future__ import annotations

from collections.abc import Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from ..catalog import fingerprint, load_table, local_frame, memo, spread
from ..functions.numeric import nz, snap_round_sql

N_QUERIES = 5   # query set = vec_id < 5
TOP_K = 5
LSH_BITS = 8    # sign bits of the first 8 dims

_DOT = (
    "aggregate(zip_with(q_emb, c_emb, (x, y) -> x * y), 0.0D, "
    "(acc, x) -> acc + x)"
)
_NORM = "sqrt(aggregate(transform({c}, x -> x * x), 0.0D, (acc, x) -> acc + x))"


def _cast_double(df: DataFrame) -> DataFrame:
    return df.select(
        "vec_id",
        F.expr("transform(embedding, x -> cast(x AS double))").alias("emb"),
    )


def embedding_norms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """L2 norm per embedding (sanity surface for the similarity ops)."""
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    return e.select(
        "vec_id",
        F.round(F.expr(_NORM.format(c="emb")), 6).alias("l2_norm"),
    )


def _scored(spark: SparkSession, sf_dir: str) -> DataFrame:
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    norm = F.expr(_NORM.format(c="emb"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        norm.alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        norm.alias("c_norm"),
    )
    return (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.expr(_DOT) / nz(F.col("q_norm") * F.col("c_norm"))).alias("cos"),
        )
    )


def cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Brute-force cosine top-k: every candidate scored against the
    broadcast query set, per-query top-5 by exact double cosine."""
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        _scored(spark, sf_dir)
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", "rk", F.round("cos", 4).alias("cos"))
    )


def cosine_topk_pandas(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Arrow-vectorized brute force: numpy matmul per batch via
    mapInPandas — the shape to use when the scoring math outgrows
    per-row expressions (e.g. 1024-dim embeddings at 100 TB). Same
    result as cosine_topk up to float summation order (tests assert
    agreement); no SQL oracle for exactly that reason."""
    import numpy as np

    e = load_table(spark, sf_dir, "embeddings")
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .select("vec_id", "embedding")
        .collect()
    )
    if not qrows:
        # empty corpus slice: no queries, no result — not a crash
        return local_frame(
            spark,
            [], "query_id bigint, cand_id bigint, rk bigint, cos double"
        )
    q_ids = np.array([r.vec_id for r in qrows])
    q_mat = np.array([r.embedding for r in qrows], dtype=np.float64)
    # errstate: a zero vector normalizes to NaN by IEEE design
    # (dropped by ranking); silence the per-task RuntimeWarning
    with np.errstate(invalid="ignore", divide="ignore"):
        q_mat /= np.linalg.norm(q_mat, axis=1, keepdims=True)
    bq_ids = spark.sparkContext.broadcast(q_ids)
    bq_mat = spark.sparkContext.broadcast(q_mat)

    def score(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            c = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                c /= np.linalg.norm(c, axis=1, keepdims=True)
            sims = c @ bq_mat.value.T  # (batch, n_queries)
            for j, qid in enumerate(bq_ids.value):
                yield pd.DataFrame(
                    {
                        "query_id": qid,
                        "cand_id": pdf["vec_id"].to_numpy(),
                        "cos": sims[:, j],
                    }
                )

    scored = (
        e.select("vec_id", "embedding")
        .mapInPandas(
            score, schema="query_id long, cand_id long, cos double"
        )
        .filter(F.col("cand_id") != F.col("query_id"))
        # zero-vector pairs score NaN in numpy, but PySpark's Arrow
        # serializer masks NaN float output to NULL (series.isnull()
        # is True for NaN) — verified empirically — so what reaches
        # the ranking is NULL, which sorts LAST under desc exactly
        # like the nz()-guarded expression twin (_scored). No extra
        # guard needed here; if the serializer contract ever changes,
        # the degenerate sweep's isfinite assertion catches it.
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", "rk", F.round("cos", 4).alias("cos"))
    )


def _bucket_expr(col: str) -> str:
    terms = " + ".join(
        f"(CASE WHEN element_at({col}, {i + 1}) >= 0 THEN {1 << i} ELSE 0 END)"
        for i in range(LSH_BITS)
    )
    return f"({terms})"


def ann_lsh_bucket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sign-LSH approximate NN: candidates bucketed by the sign pattern
    of the first 8 dims; each query scores only its own bucket, top-3.
    The bucket equi-join replaces the cross join — at scale this is a
    shuffle on an 8-bit key instead of an all-pairs scan."""
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    norm = F.expr(_NORM.format(c="emb"))
    bucket = F.expr(_bucket_expr("emb")).cast("long")
    keyed = e.select(
        "vec_id", "emb", norm.alias("nrm"), bucket.alias("bucket")
    )
    q = keyed.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        "bucket",
    )
    c = keyed.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
        "bucket",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        c.join(F.broadcast(q), on="bucket")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "bucket",
            (F.expr(_DOT) / nz(F.col("q_norm") * F.col("c_norm"))).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= 3)
        .select(
            "query_id", "cand_id", "bucket", "rk",
            F.round("cos", 4).alias("cos"),
        )
    )


COS_DUP_THRESH = 0.4  # near-dup cosine threshold (fixture max ~0.51)
DUP_BANDS = 4         # sign-LSH bands for near-dup blocking
DUP_BAND_BITS = 4     # sign bits per band
IVF_CELLS = 8         # coarse-quantizer centroids (IVF nlist)
IVF_TOP_K = 3


def _band_key_expr(col: str, band: int) -> str:
    terms = " + ".join(
        f"(CASE WHEN element_at({col}, {band * DUP_BAND_BITS + i + 1}) >= 0 "
        f"THEN {1 << i} ELSE 0 END)"
        for i in range(DUP_BAND_BITS)
    )
    return f"({terms})"


def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs: banded sign-LSH blocking (4
    bands x 4 sign bits) generates candidates, exact double cosine
    verifies >= COS_DUP_THRESH.

    The blocking join replaces the all-pairs self-join — at 100 TB the
    shuffle key is (band, 4-bit key) and each vector appears exactly
    DUP_BANDS times, so candidate volume is bounded by bucket sizes,
    never O(N^2). Recall is the standard banded-LSH tradeoff and is
    deterministic, so the DuckDB oracle reproduces it exactly."""
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    norm = F.expr(_NORM.format(c="emb"))
    bands = ", ".join(
        f"{j}L, {_band_key_expr('emb', j)}" for j in range(DUP_BANDS)
    )
    keyed = e.select("vec_id", "emb", norm.alias("nrm")).selectExpr(
        "vec_id", "emb", "nrm",
        f"stack({DUP_BANDS}, {bands}) AS (band, bkey)",
    )
    a = keyed.select(
        "band", "bkey", F.col("vec_id").alias("vec_a"),
        F.col("emb").alias("q_emb"), F.col("nrm").alias("a_norm"),
    )
    b = keyed.select(
        "band", "bkey", F.col("vec_id").alias("vec_b"),
        F.col("emb").alias("c_emb"), F.col("nrm").alias("b_norm"),
    )
    return (
        a.join(b, on=["band", "bkey"])
        .filter(F.col("vec_a") < F.col("vec_b"))
        .select(
            "vec_a", "vec_b",
            (F.expr(_DOT) / nz(F.col("a_norm") * F.col("b_norm"))).alias("cos"),
        )
        .dropDuplicates(["vec_a", "vec_b"])
        .filter(F.col("cos") >= COS_DUP_THRESH)
        .select("vec_a", "vec_b", F.round("cos", 4).alias("cos"))
    )


def ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-style ANN: a deterministic coarse quantizer (centroids = the
    first IVF_CELLS embeddings, standing in for trained k-means) assigns
    every vector to its max-cosine cell; each query probes ONLY its own
    cell (nprobe=1) and exact-scores that cell's candidates, top-3.

    Scale shape: assignment is a broadcast join against IVF_CELLS
    centroids + one argmax per vector (map-side partial agg); the probe
    is an equi-join on cell id. Candidate volume per query is N/nlist
    on average instead of N — the IVF contract.

    CACHING: the assigned (vector, cell) frame is ``persist()``-ed
    with session lifetime (same posture as tfidf_cosine_pairs' tf
    cache): its two consumers — the probe's query side and candidate
    side — each re-ran the centroid-assignment pass before round 10.
    Loop callers release it with ``spark.catalog.clearCache()``,
    bench.py's cold-per-run protocol."""
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    norm = F.expr(_NORM.format(c="emb"))
    vecs = e.select("vec_id", "emb", norm.alias("nrm"))
    cents = vecs.filter(F.col("vec_id") < IVF_CELLS).select(
        F.col("vec_id").alias("cid"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
    )
    w_assign = Window.partitionBy("vec_id").orderBy(
        F.desc("ccos"), F.asc("cid")
    )
    assigned = (
        vecs.withColumnRenamed("emb", "q_emb")
        .crossJoin(F.broadcast(cents))
        .select(
            "vec_id", "q_emb", "nrm", "cid",
            (F.expr(_DOT) / nz(F.col("nrm") * F.col("c_norm"))).alias("ccos"),
        )
        .withColumn("rk", F.row_number().over(w_assign))
        .filter(F.col("rk") == 1)
        .select(
            "vec_id", F.col("q_emb").alias("emb"), "nrm",
            F.col("cid").alias("cell"),
        )
        .persist()
    )
    q = assigned.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("nrm").alias("q_norm"),
        "cell",
    )
    c = assigned.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        F.col("nrm").alias("c_norm"),
        "cell",
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id", "cand_id", "cell",
            (F.expr(_DOT) / nz(F.col("q_norm") * F.col("c_norm"))).alias("cos"),
        )
        .withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= IVF_TOP_K)
        .select(
            "query_id", "cand_id", "cell", "rk",
            F.round("cos", 4).alias("cos"),
        )
    )


IVF_NPROBE = 2  # trained-IVF probes per query


def ann_ivf_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-ANN with a TRAINED coarse quantizer: the k-means centroids
    from ``training.lloyd_centroids`` partition the corpus into cells;
    each query probes its IVF_NPROBE nearest cells and exact-scores only
    those cells' members (top-TOP_K by cosine). This is the production
    IVF shape (FAISS IVFFlat): quantizer quality decides the
    recall/candidate-volume trade, measured in tests against the
    brute-force oracle-checked ``cosine_topk``.

    Scale: training collects only k×d floats; assignment and probing
    are broadcast expressions; the probe join is an equi-join on cell
    id, so per-query candidate volume is nprobe/k of the corpus.
    Oracled since round 7 (the quantizer fixpoint is exact-decimal
    replayable — see training.lloyd_centroids — and the cosine fold is
    sequential, so DuckDB replays it bit-exactly); recall vs the brute
    force additionally pinned in tests/test_llm.py.
    """
    from .training import _assign, trained_centroids  # noqa: PLC0415

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    cents = trained_centroids(spark, sf_dir)
    if not cents:
        # empty corpus slice: nothing to index — not a crash
        return local_frame(
            spark,
            [], "query_id bigint, cand_id bigint, rk bigint, cos double"
        )
    assigned = _assign(e, cents).select(
        F.col("vec_id").alias("cand_id"),
        F.col("embedding").alias("c_raw"),
        F.col("cid").alias("cell"),
    )
    C = np.asarray(cents, dtype=np.float64)

    def probe_batches(batches):
        # nprobe nearest cells per query — same Arrow-batched distance
        # matrix as training._assign (k codegen'd zip_with expressions
        # with literal centroids would recompile per invocation);
        # np.argsort ties resolve to the lower cell id (stable sort
        # over an ascending-cell axis), matching the (d, cell) order
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d2 = (
                (m * m).sum(1)[:, None]
                - 2.0 * (m @ C.T)
                + (C * C).sum(1)[None, :]
            )
            near = np.argsort(d2, axis=1, kind="stable")[:, :IVF_NPROBE]
            yield pd.DataFrame(
                {
                    "query_id": pdf["vec_id"].repeat(IVF_NPROBE),
                    "q_raw": pdf["embedding"].repeat(IVF_NPROBE),
                    "cell": near.ravel().astype("int32"),
                }
            )

    probes = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .mapInPandas(
            probe_batches,
            schema="query_id long, q_raw array<float>, cell int",
        )
    )
    scored = (
        assigned.join(F.broadcast(probes), on="cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(
                "aggregate(zip_with(q_raw, c_raw, (x, y) -> "
                "cast(x AS double) * y), 0.0D, (acc, x) -> acc + x) / "
                "nullif(sqrt(aggregate(transform(q_raw, x -> cast(x AS double) "
                "* x), 0.0D, (acc, x) -> acc + x)) * "
                "sqrt(aggregate(transform(c_raw, x -> cast(x AS double) "
                "* x), 0.0D, (acc, x) -> acc + x)), 0.0D)"
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    from ..functions.numeric import snap_round  # noqa: PLC0415

    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id", "cand_id", "rk",
            snap_round(F.col("cos"), 4).alias("cos"),
        )
    )


def ivf_index_write(spark: SparkSession, sf_dir: str, path: str) -> None:
    """Persist the IVF index as a LAYOUT: corpus vectors written
    hive-partitioned by their trained cell id, quantizer centroids
    stored beside them. Build once, probe many — the production
    counterpart of ann_ivf_kmeans's build-per-query shape. At 100 TB
    the payoff is that a probe's cell predicate becomes parquet
    PARTITION PRUNING: each query reads nprobe/k of the corpus from
    disk, enforced by the directory layout instead of a runtime
    filter (test-pinned via the scan's partitionFilters)."""
    from .training import _assign, trained_centroids  # noqa: PLC0415

    e = load_table(spark, sf_dir, "embeddings").select(
        "vec_id", "embedding"
    )
    cents = trained_centroids(spark, sf_dir)
    _assign(e, cents).select(
        "vec_id", "embedding", F.col("cid").alias("cell")
    ).write.mode("overwrite").partitionBy("cell").parquet(
        f"{path}/vectors"
    )
    local_frame(
        spark,
        [(i, [float(x) for x in c]) for i, c in enumerate(cents)],
        "cell int, centroid array<double>",
    ).write.mode("overwrite").parquet(f"{path}/quantizer")


def ivf_index_probe(
    spark: SparkSession, path: str, queries: DataFrame
) -> DataFrame:
    """Top-TOP_K cosine search against a PERSISTED IVF index
    (ivf_index_write layout): per-query probe cells come from the
    stored quantizer (k×d collect — never data-scaled), the distinct
    probed-cell set (≤ min(k, IVF_NPROBE·n_queries) ints) is pushed as
    a literal IN-filter on the partition column so the parquet scan
    prunes every unprobed cell's directory, and only the surviving
    cells' members are exact-scored (same cosine + per-query top-k as
    ann_ivf_kmeans). Queries: (query_id long, embedding array<float>),
    assumed query-sized (the probe frame is broadcast)."""
    import numpy as np  # noqa: PLC0415
    import pandas as pd  # noqa: PLC0415

    cent_rows = spark.read.parquet(f"{path}/quantizer").collect()
    if not cent_rows:
        # empty corpus slice: an index over nothing answers nothing —
        # same guard as ann_ivf_kmeans, not a crash
        return local_frame(
            spark,
            [], "query_id bigint, cand_id bigint, rk bigint, cos double"
        )
    C = np.zeros((len(cent_rows), len(cent_rows[0].centroid)))
    for r in cent_rows:
        C[r.cell] = np.asarray(r.centroid)
    k = min(IVF_NPROBE, len(cent_rows))

    def probe_batches(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            d2 = (
                (m * m).sum(1)[:, None]
                - 2.0 * (m @ C.T)
                + (C * C).sum(1)[None, :]
            )
            near = np.argsort(d2, axis=1, kind="stable")[:, :k]
            yield pd.DataFrame(
                {
                    "query_id": pdf["query_id"].repeat(k),
                    "q_raw": pdf["embedding"].repeat(k),
                    "cell": near.ravel().astype("int32"),
                }
            )

    probes = queries.mapInPandas(
        probe_batches, schema="query_id long, q_raw array<float>, cell int"
    # N_QUERIES×IVF_NPROBE-row materialization: the distinct-cell
    # collect AND the broadcast join both consume probes, and Spark
    # shares no unaliased subplans — without this the query scan +
    # centroid argsort assignment would run twice
    ).localCheckpoint()
    cells = sorted(
        r.cell for r in probes.select("cell").distinct().collect()
    )
    index = spark.read.parquet(f"{path}/vectors").filter(
        F.col("cell").isin(cells)
    )
    scored = (
        index.select(
            F.col("vec_id").alias("cand_id"),
            F.col("embedding").alias("c_raw"),
            "cell",
        )
        .join(F.broadcast(probes), on="cell")
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            F.expr(
                "aggregate(zip_with(q_raw, c_raw, (x, y) -> "
                "cast(x AS double) * y), 0.0D, (acc, x) -> acc + x) / "
                "nullif(sqrt(aggregate(transform(q_raw, x -> cast(x AS double) "
                "* x), 0.0D, (acc, x) -> acc + x)) * "
                "sqrt(aggregate(transform(c_raw, x -> cast(x AS double) "
                "* x), 0.0D, (acc, x) -> acc + x)), 0.0D)"
            ).alias("cos"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    from ..functions.numeric import snap_round  # noqa: PLC0415

    return (
        scored.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        .select(
            "query_id", "cand_id", "rk",
            snap_round(F.col("cos"), 4).alias("cos"),
        )
    )


def ivf_index_probe_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Registry wrapper grading the PERSISTED-index serve path end to
    end (VERDICT r8 item 1): stage the IVF index once per (warehouse,
    sf_dir, embeddings fingerprint) via ``ivf_index_write`` —
    hive-partitioned vectors + stored quantizer, reused when already
    on disk, same staging pattern as ``bucketed_join_revenue`` — then
    answer the standard N_QUERIES query set through
    ``ivf_index_probe``, whose parquet scan prunes every unprobed
    cell's directory (partitionFilters pinned in
    tests/test_layout.py).

    Result contract: identical rows to ``ann_ivf_kmeans`` (same trained
    quantizer, same IVF_NPROBE probes, same cosine fold and tie-break)
    — the equality is test-pinned, so the oracle is shared. What this
    slot grades that the inline slot can't: the index WRITE layout, the
    stored-quantizer probe, and partition-pruned scan correctness."""
    import hashlib  # noqa: PLC0415

    from ..sources import hadoopfs  # noqa: PLC0415

    wh = spark.conf.get("spark.sql.warehouse.dir", "spark-warehouse")
    # the name tag folds in the table's fingerprint: a fixture rewritten
    # at the same path gets a new index, never the stale one. Partial
    # writes self-heal: the existence check needs both subdirs and
    # ivf_index_write overwrites both.
    fp = (sf_dir, fingerprint(sf_dir, "embeddings"))
    tag = hashlib.md5(repr(fp).encode()).hexdigest()[:8]
    path = f"{wh.rstrip('/')}/r9_ivf_index_{tag}"
    if not (
        hadoopfs.exists(spark, f"{path}/quantizer")
        and hadoopfs.exists(spark, f"{path}/vectors")
    ):
        ivf_index_write(spark, sf_dir, path)
    queries = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .select(F.col("vec_id").alias("query_id"), "embedding")
        .filter(F.col("query_id") < N_QUERIES)
    )
    return ivf_index_probe(spark, path, queries)


INT8_LEVELS = 254  # symmetric int8 grid: [-127, 127]


def embedding_int8_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Scalar int8 quantization of the embedding column: one global
    [min, max] range (two scalar aggregates, broadcast back), each
    component mapped to the 254-level symmetric grid, plus per-vector
    reconstruction MSE — the 4×-memory representation ANN indexes store
    so candidate scoring stays in cache at corpus scale (re-rank the
    shortlist with full precision).

    All built-ins: transform/aggregate array lambdas; the only shuffle
    is the 1-row range aggregate.
    """
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    rng = e.select(F.explode("emb").alias("x")).agg(
        F.min("x").alias("lo"), F.max("x").alias("hi")
    )
    q = e.crossJoin(F.broadcast(rng)).select(
        "vec_id",
        "emb",
        "lo",
        ((F.col("hi") - F.col("lo")) / INT8_LEVELS).alias("step"),
    )
    quant = q.select(
        "vec_id",
        "emb",
        "lo",
        "step",
        F.expr(
            f"transform(emb, x -> cast(round((x - lo) / nullif(step, 0.0D)) "
            f"- 127 AS int))"
        ).alias("q8"),
    )
    return quant.select(
        "vec_id",
        F.element_at("q8", 1).alias("q8_first"),
        F.expr("aggregate(q8, 0L, (a, v) -> a + abs(v))").alias("l1_q8"),
        F.round(
            F.expr(
                "aggregate(zip_with(emb, q8, (x, v) -> "
                "pow(x - (lo + (v + 127) * step), 2)), 0.0D, "
                "(a, d) -> a + d) / nullif(size(emb), 0)"
            ),
            8,
        ).alias("mse"),
    )


def mad_by_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Median absolute deviation of event values per event_type via
    grouped ``applyInPandas`` — the batch Arrow UDF surface (grouped
    twin of mapInPandas; streaming twin is applyInPandasWithState).
    MAD needs a double median pass, which is where per-group pandas
    beats nested SQL. Each group is one Arrow batch on one executor —
    fine for bounded group counts; for huge groups pre-aggregate or
    use approx sketches instead."""
    import numpy as np  # noqa: PLC0415

    ev = load_table(spark, sf_dir, "events")

    def mad(pdf: pd.DataFrame) -> pd.DataFrame:
        v = pdf["value"].to_numpy(dtype=np.float64)
        med = np.median(v)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "median_value": [round(float(med), 4)],
                "mad_value": [round(float(np.median(np.abs(v - med))), 4)],
                "n": [len(v)],
            }
        )

    return ev.select("event_type", "value").groupBy("event_type").applyInPandas(
        mad, schema="event_type string, median_value double, "
                    "mad_value double, n long"
    )


def embedding_centroids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-label centroid components: posexplode each vector to
    (label, pos, value) and average per coordinate — the distributed
    vector mean that seeds IVF/k-means coarse quantizers.

    Scale posture: the explode is narrow (no shuffle); the single
    shuffle is the (label, pos) groupBy, map-side partial-aggregated,
    with cardinality = |labels| × dim regardless of corpus size. No
    driver-side numpy reduction anywhere."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    return (
        e.select(
            "label",
            F.posexplode(
                F.expr("transform(embedding, x -> cast(x AS double))")
            ).alias("pos0", "v"),
        )
        .groupBy("label", (F.col("pos0") + 1).alias("pos"))
        .agg(
            F.round(F.avg("v"), 6).alias("centroid"),
            F.count("*").alias("n_vecs"),
        )
    )


def embedding_drift_by_label(
    spark: SparkSession, sf_dir: str
) -> DataFrame:
    """Embedding-space drift monitor: cosine of each label's centroid
    against the GLOBAL centroid — the vector analogue of
    population_stability_index (a label whose centroid swings away from
    the global one signals a cluster that moved between snapshots or an
    ingestion regression). Runs entirely at (label, dim) /
    (dim) grain: one posexplode feeds both centroid aggregates, the
    join is dim-keyed (|dims| rows per label), and the cosine reduces
    |dims| terms per label — corpus size never appears after the first
    partial-aggregated groupBy."""
    e = spread(load_table(spark, sf_dir, "embeddings"))
    comp = e.select(
        "label",
        F.posexplode(
            F.expr("transform(embedding, x -> cast(x AS double))")
        ).alias("pos", "v"),
    # persist(): feeds BOTH the per-label and the global centroid
    # aggregates (unaliased-subplan rule — without it the scan +
    # explode execute twice); data-sized → persist, not checkpoint
    ).persist()
    per_label = comp.groupBy("label", "pos").agg(
        F.avg("v").alias("c"), F.count("*").alias("n")
    )
    global_c = comp.groupBy("pos").agg(F.avg("v").alias("g"))
    return (
        per_label.join(global_c, "pos")
        .groupBy("label")
        .agg(
            F.max("n").alias("n_vecs"),
            F.sum(F.col("c") * F.col("g")).alias("dot"),
            F.sum(F.col("c") * F.col("c")).alias("cc"),
            F.sum(F.col("g") * F.col("g")).alias("gg"),
        )
        .select(
            "label",
            F.col("n_vecs").cast("long").alias("n_vecs"),
            F.round(
                F.col("dot")
                / nz(F.sqrt(F.col("cc")) * F.sqrt(F.col("gg"))),
                6,
            ).alias("cos_to_global"),
        )
    )


PQ_M = 8          # product-quantization subspaces (64 dims -> 8x8)
PQ_K = 16         # codebook entries per subspace (4-bit codes)
PQ_ITERS = 8      # Lloyd iterations per subspace codebook
PQ_TRAIN_N = 2048 # training-sample cap (FAISS-style bounded sample)


def _seq_norms(mat):
    """Row L2 norms via a PYTHON sequential left fold + math.sqrt:
    numpy's norm/dot go through BLAS whose summation order is
    implementation-defined, while a left fold is exactly DuckDB's
    list_reduce, and math.sqrt is the correctly-rounded IEEE sqrt
    DuckDB uses (``x ** 0.5`` goes through pow, which is NOT
    bit-identical to sqrt on this platform — measured). Bit-identical
    normalized vectors on both engines is what makes the PQ oracles
    replay the float pipeline instead of approximating it."""
    import math  # noqa: PLC0415

    import numpy as np  # noqa: PLC0415

    out = []
    for row in mat:
        acc = 0.0
        for v in row:
            acc = acc + float(v) * float(v)
        out.append(math.sqrt(acc))
    return np.asarray(out)[:, None]


def _seq_mean_cols(rows):
    """Column means via a PYTHON sequential left fold then ONE IEEE
    division. PQ training is driver-side over a bounded ordered sample
    (no distributed sum to order-protect), so a fixed fold order —
    not the exact-DECIMAL trick the distributed kmeans needs — is the
    simplest bit-replayable rule: DuckDB mirrors it with
    list_reduce(list_prepend(0.0, list(x ORDER BY vec_id)), +) / n."""
    import numpy as np  # noqa: PLC0415

    n = len(rows)
    out = []
    for j in range(rows.shape[1]):
        acc = 0.0
        for v in rows[:, j]:
            acc = acc + float(v)
        out.append(acc / n)
    return np.asarray(out)


def _pq_codebooks(spark: SparkSession, sf_dir: str) -> list:
    """PQ codebooks of the embeddings table: M x K x (d/M) float
    lists, trained once per table fingerprint like
    training.trained_centroids. Training samples a bounded subset to
    the driver (production PQ trains codebooks on a ~100k sample
    regardless of corpus size) — O(PQ_TRAIN_N x d), never
    corpus-sized."""
    return memo(
        "pq_codebooks",
        sf_dir,
        ("embeddings",),
        lambda: _pq_train(spark, sf_dir),
    )


def _pq_train(spark: SparkSession, sf_dir: str) -> list:
    import numpy as np  # noqa: PLC0415

    rows = (
        spread(load_table(spark, sf_dir, "embeddings"))
        .select("vec_id", "embedding")
        .orderBy("vec_id")
        .limit(PQ_TRAIN_N)
        .collect()
    )
    if not rows:
        # empty corpus slice: no codebooks to train — consumers
        # early-return empty frames (not a crash)
        return []
    mat = np.stack([np.asarray(r.embedding, float) for r in rows])
    with np.errstate(invalid="ignore", divide="ignore"):
        mat /= _seq_norms(mat)  # zero vector -> NaN row (IEEE)
    d = mat.shape[1]
    sub = d // PQ_M
    books = []
    for m in range(PQ_M):
        X = mat[:, m * sub:(m + 1) * sub]
        # deterministic init: first PQ_K EXACT-distinct subvectors in
        # vec_id order (exact-tuple dedup so the oracle's list-equality
        # dedup is the same rule); plain Lloyd to a fixed iteration
        # count
        seen, init = set(), []
        for v in X:
            t = tuple(v)
            if t not in seen:
                seen.add(t)
                init.append(v)
            if len(init) == PQ_K:
                break
        C = np.stack(init)
        for _ in range(PQ_ITERS):
            # direct (X-C)^2 sum over the 8-wide subspace: numpy sums
            # exactly-8 contiguous elements in PAIRWISE TREE order
            # ((t1+t2)+(t3+t4))+((t5+t6)+(t7+t8)) — measured, and
            # mirrored verbatim by _SQL_TREE_D2 in the oracle (matmul
            # expansion would go through dgemm, order unknowable)
            d2 = ((X[:, None, :] - C[None]) ** 2).sum(2)
            a = d2.argmin(1)
            for k in range(PQ_K):
                mask = a == k
                if mask.any():
                    C[k] = _seq_mean_cols(X[mask])
        books.append(C.tolist())
    return books


def _pq_encoded(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Internal PQ encoding frame: (vec_id, codes array<int>, RAW
    recon_mse). ``pq_encode`` is the graded view (codes as a string,
    snap-rounded mse); ``_pq_adc_ranked`` consumes the array codes."""
    import numpy as np  # noqa: PLC0415

    trained = _pq_codebooks(spark, sf_dir)
    if not trained:
        return local_frame(
            spark,
            [], "vec_id long, codes array<int>, recon_mse double"
        )
    books = np.asarray(trained)  # M x K x sub

    def encode(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            m0 = np.stack(pdf["embedding"].to_numpy()).astype(np.float64)
            with np.errstate(invalid="ignore", divide="ignore"):
                m0 /= _seq_norms(m0)
            sub = m0.shape[1] // PQ_M
            codes = np.empty((len(m0), PQ_M), dtype=np.int32)
            mse = np.zeros(len(m0))
            for m in range(PQ_M):
                X = m0[:, m * sub:(m + 1) * sub]
                C = books[m]
                # direct diff (see _pq_train): 8-term tree sums are
                # replayable; d2 >= 0 by construction, no clamp
                d2 = ((X[:, None, :] - C[None]) ** 2).sum(2)
                codes[:, m] = d2.argmin(1)
                mse += d2.min(1)
            yield pd.DataFrame(
                {
                    "vec_id": pdf["vec_id"],
                    "codes": list(codes.tolist()),
                    # RAW mse out of the Arrow task; snap_round below
                    # (np.round is banker's — the recurring trap)
                    "recon_mse": mse / m0.shape[1],
                }
            )

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    return e.mapInPandas(
        encode, schema="vec_id long, codes array<int>, recon_mse double"
    )


def pq_encode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization: each L2-normalized vector compressed to
    PQ_M 4-bit codes (nearest codebook entry per subspace) — 64 float32
    dims become 8 bytes, the 32x compression that makes billion-scale
    ANN indexes fit in memory (Jégou et al. 2011; FAISS IVFPQ's
    fine quantizer). Returns codes (comma-joined, the hash-stable
    form) + per-vector reconstruction MSE (the quantization-quality
    monitor).

    Scale: codebooks are M x K x (d/M) floats riding along as a
    closure broadcast; encoding is one Arrow-batched argmin per
    subspace per batch — embarrassingly parallel, no shuffle. Oracled
    since round 7: training is driver-side over a bounded ORDERED
    sample, so every float op has a fixed order a DuckDB recursive CTE
    replays bit-exactly — sequential-fold norms and centroid means
    (list_reduce twins), numpy's 8-term tree-order distance sums
    (_SQL_TREE_D2), first-K exact-distinct init; code-range/
    determinism/MSE invariants additionally pinned in
    tests/test_llm.py.
    """
    from ..functions.numeric import snap_round  # noqa: PLC0415

    return _pq_encoded(spark, sf_dir).select(
        "vec_id",
        F.concat_ws(
            ",", F.transform("codes", lambda x: x.cast("string"))
        ).alias("codes"),
        snap_round(F.col("recon_mse"), 6).alias("recon_mse"),
    )


def _pq_adc_ranked(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ-ADC ranking: queries stay exact, candidates exist ONLY as PQ
    codes — per query, a PQ_M x PQ_K lookup table of subspace distances
    turns each candidate's distance into PQ_M table gathers (asymmetric
    distance computation), ranked by approximated L2 over unit vectors
    (= cosine order). THE memory-bound trade at 100 TB: the scan
    touches 8 bytes per candidate instead of 256.

    Queries (vec_id < N_QUERIES) ride in the closure like
    ``cosine_topk``'s broadcast query set; scoring is Arrow-batched
    numpy over the code table; the only shuffle is the final per-query
    ranking window. Consumed by ``ann_pq_adc`` (top-k) and
    ``ann_pq_refine`` (shortlist + exact rescore).
    """
    import numpy as np  # noqa: PLC0415

    trained = _pq_codebooks(spark, sf_dir)
    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    qrows = (
        e.filter(F.col("vec_id") < N_QUERIES)
        .orderBy("vec_id")
        .collect()
    )
    if not trained or not qrows:
        # empty corpus slice: no codes, no queries — not a crash
        return local_frame(
            spark,
            [],
            "query_id long, cand_id long, adc_dist double, rk long",
        )
    books = np.asarray(trained)  # M x K x sub
    Q = np.stack([np.asarray(r.embedding, float) for r in qrows])
    with np.errstate(invalid="ignore", divide="ignore"):
        Q /= _seq_norms(Q)
    qids = np.asarray([r.vec_id for r in qrows])
    sub = Q.shape[1] // PQ_M
    # LUT[q, m, k] = ||query_q subvector m - codebook[m][k]||^2
    lut = np.stack(
        [
            ((Q[:, m * sub:(m + 1) * sub][:, None, :] - books[m][None])
             ** 2).sum(2)
            for m in range(PQ_M)
        ],
        axis=1,
    )

    def score(batches):
        for pdf in batches:
            if not len(pdf):
                continue
            codes = np.stack(pdf["codes"].to_numpy()).astype(np.int64)
            n, nq = len(codes), len(qids)
            # gather: dist[q, cand] = sum_m LUT[q, m, codes[cand, m]]
            d = np.zeros((nq, n))
            for m in range(PQ_M):
                d += lut[:, m, :][:, codes[:, m]]
            cand = pdf["vec_id"].to_numpy()
            out_q = np.repeat(qids, n)
            out_c = np.tile(cand, nq)
            yield pd.DataFrame(
                {
                    "query_id": out_q,
                    "cand_id": out_c,
                    # RAW distance; consumers snap_round after ranking
                    "adc_dist": d.ravel(),
                }
            )

    from ..functions.numeric import snap_round  # noqa: PLC0415

    scored = (
        _pq_encoded(spark, sf_dir)
        .mapInPandas(
            score,
            schema="query_id long, cand_id long, adc_dist double",
        )
        .filter(F.col("query_id") != F.col("cand_id"))
        # rank on the SNAPPED distance: 6dp grid ties break on cand_id
        # deterministically, so the order survives the ~1e-15
        # float-vs-exact-decimal gap between engines (raw-float order
        # would make every near-tie a coin flip)
        .select(
            "query_id", "cand_id",
            snap_round(F.col("adc_dist"), 6).alias("adc_dist"),
        )
    )
    w = Window.partitionBy("query_id").orderBy("adc_dist", "cand_id")
    return scored.withColumn(
        "rk", F.row_number().over(w).cast("long")
    )


def ann_pq_adc(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pure-ADC top-k (see _pq_adc_ranked): memory-bound ranking from
    8-byte codes alone — the recall/bandwidth trade, measured in
    tests; ``ann_pq_refine`` is the production shape that fixes the
    recall."""
    return (
        _pq_adc_ranked(spark, sf_dir)
        .filter(F.col("rk") <= TOP_K)
        .select("query_id", "cand_id", "rk", "adc_dist")
    )


PQ_SHORTLIST = 64  # ADC candidates exact-rescored per query


def ann_pq_refine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PQ search with exact refinement — the full production ANN
    recipe (FAISS IVFPQ + refine): the ADC pass shortlists
    PQ_SHORTLIST candidates per query from 8-byte codes, then ONLY the
    shortlist members' true vectors are fetched and exact-cosine
    rescored for the final top-TOP_K. The expensive exact math touches
    shortlist x queries rows, never the corpus; the code scan stays
    memory-bound. Recall vs brute force is bounded by shortlist recall
    and pinned in tests/test_llm.py; oracled since round 7 (ADC
    shortlist replay + the standard sequential-fold exact cosine).
    """
    shortlist = (
        _pq_adc_ranked(spark, sf_dir)
        .filter(F.col("rk") <= PQ_SHORTLIST)
        .select("query_id", "cand_id")
    )
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    norm = F.expr(_NORM.format(c="emb"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        norm.alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        norm.alias("c_norm"),
    )
    exact = (
        # the shortlist (queries x PQ_SHORTLIST rows) broadcasts into
        # the corpus scan — true-vector reads happen only for hits
        c.join(F.broadcast(shortlist), on="cand_id")
        .join(F.broadcast(q), on="query_id")
        .select(
            "query_id",
            "cand_id",
            (F.expr(_DOT) / nz(F.col("q_norm") * F.col("c_norm"))).alias(
                "cos"
            ),
        )
    )
    from ..functions.numeric import snap_round  # noqa: PLC0415

    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    return (
        exact.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= TOP_K)
        # snap_round (not plain round): the pre-round cos is
        # bit-identical cross-engine by the sequential-fold design, so
        # the round itself is the ONLY remaining divergence source —
        # snap both engines to the same exact decimal first
        .select(
            "query_id",
            "cand_id",
            "rk",
            snap_round(F.col("cos"), 4).alias("cos"),
        )
    )


def intra_label_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mean pairwise cosine similarity WITHIN each label — the cluster
    compactness / diversity monitor (how redundant is each slice of
    the corpus?). Computed exactly in O(n·d) via the algebraic
    identity for unit vectors:

        sum_{i != j} cos(v_i, v_j) = ||SUM_i v_i||^2 - n

    so the mean is (||S||^2 - n) / (n·(n-1)) — ONE elementwise vector
    sum per label (the embedding_centroids dataflow) instead of the
    O(n^2) pair join a naive implementation would shuffle. This is the
    rewrite that makes corpus-diversity tracking feasible at 100 TB:
    per-label state is d floats, the shuffle cardinality is
    |labels| × dim regardless of corpus size.
    """
    e = spread(load_table(spark, sf_dir, "embeddings"))
    norm = _NORM.format(c="emb")
    unit = e.select(
        "label",
        F.expr("transform(embedding, x -> cast(x AS double))").alias(
            "emb"
        ),
    ).select(
        "label",
        F.expr(f"transform(emb, x -> x / nullif({norm}, 0.0D))").alias("v"),
    )
    # Round-10 single-pass rewrite: the row count n used to be its own
    # corpus scan + a label join. posexplode_OUTER keeps one (p=null)
    # row per empty vector, so n per label = rows at p 0 plus the
    # null-p rows — exactly the old count(*), recovered from the SAME
    # (label, p) aggregate that builds the component sums (sum(null)
    # on the null-p group squares to null and drops out of ssq).
    per_pos = (
        unit.select("label", F.posexplode_outer("v").alias("p", "x"))
        .groupBy("label", "p")
        .agg(F.sum("x").alias("s"), F.count("*").alias("c"))
    )
    sums = per_pos.groupBy("label").agg(
        F.sum(F.col("s") * F.col("s")).alias("ssq"),
        F.sum(
            F.when(F.col("p").isNull() | (F.col("p") == 0), F.col("c"))
        ).alias("n"),
    )
    # + 0.0 after the round: a mean that is zero up to float noise
    # rounds to -0.0 or +0.0 depending on each engine's summation
    # order, and the driver hash distinguishes the sign (bit at sf0.1:
    # spark 0.0 vs oracle -0.0); IEEE -0.0 + 0.0 = +0.0 normalizes
    # both sides
    return sums.select(
        "label",
        "n",
        (
            F.round(
                (F.col("ssq") - F.col("n"))
                / nz(F.col("n") * (F.col("n") - 1)),
                4,
            )
            + F.lit(0.0)
        ).alias("mean_intra_cosine"),
    )


def embedding_norms_arrow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """embedding_norms on the ``mapInArrow`` path: zero-copy Arrow
    record batches straight into numpy (flattened list values +
    ``reduceat`` over row offsets) — no pandas materialization at all.
    The lowest-overhead Python escape hatch when even the Series
    wrapping of a pandas UDF matters; same oracle as the in-plan fold
    because both round to 6 digits (well above float64 noise)."""
    import numpy as np  # noqa: PLC0415
    import pyarrow as pa  # noqa: PLC0415

    def norms(batches):
        for batch in batches:
            emb = batch.column("embedding")
            vals = emb.flatten().to_numpy(zero_copy_only=False).astype(
                np.float64
            )
            lens = np.asarray(emb.value_lengths(), dtype=np.int64)
            starts = np.cumsum(lens) - lens
            norm = np.sqrt(np.add.reduceat(vals * vals, starts))
            yield pa.RecordBatch.from_arrays(
                [batch.column("vec_id"), pa.array(np.round(norm, 6))],
                ["vec_id", "l2_norm"],
            )

    e = spread(load_table(spark, sf_dir, "embeddings")).select(
        "vec_id", "embedding"
    )
    return e.mapInArrow(norms, "vec_id long, l2_norm double")


RRF_K = 60          # standard reciprocal-rank-fusion damping constant
RRF_SHORTLIST = 20  # per-list shortlist depth fed into the fusion


def _token_jaccard_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lexical retrieval scores shared by ``hybrid_search_rrf`` and
    ``hard_negatives``: distinct-token Jaccard between each query
    document (doc_id < N_QUERIES, token set broadcast) and every
    candidate that shares at least one token.

    ONE pair-grain shuffle total: token-set sizes are computed map-side
    BEFORE the explode and ride each token row, so no per-doc size
    aggregate and no post-aggregation size joins exist in the plan.
    Pair fan-out is bounded by n_queries × docs-sharing-a-token —
    never all-pairs of the corpus."""
    d = spread(load_table(spark, sf_dir, "documents"))
    sig = d.select(
        "doc_id",
        F.expr(
            "filter(array_distinct(split(lower(text), '\\\\s+')), "
            "x -> length(x) > 0)"
        ).alias("ws"),
    ).select("doc_id", "ws", F.size("ws").alias("n_toks"))
    toks = sig.select(
        "doc_id", "n_toks", F.explode("ws").alias("w")
    )
    q_toks = toks.filter(F.col("doc_id") < N_QUERIES).select(
        F.col("doc_id").alias("query_id"),
        F.col("n_toks").alias("n_q_toks"),
        "w",
    )
    return (
        toks.join(F.broadcast(q_toks), on="w")
        .filter(F.col("doc_id") != F.col("query_id"))
        .groupBy("query_id", "doc_id", "n_toks", "n_q_toks")
        .agg(F.count("*").alias("n_inter"))
        .select(
            "query_id",
            F.col("doc_id").alias("cand_id"),
            (
                F.col("n_inter")
                / (F.col("n_toks") + F.col("n_q_toks") - F.col("n_inter"))
            ).alias("jac"),
        )
    )


def hybrid_search_rrf(
    spark: SparkSession, sf_dir: str, scored: DataFrame | None = None
) -> DataFrame:
    """Hybrid retrieval: lexical ranking (distinct-token Jaccard between
    the query document and every candidate) fused with semantic ranking
    (exact cosine over the aligned ``embeddings`` vectors) by Reciprocal
    Rank Fusion — score = Σ 1/(K + rank), the standard RAG-stack merge
    of a keyword index and a vector index (Cormack et al. 2009).

    ``scored`` lets a composing eval (retrieval_ndcg) hand in an
    already-persisted cosine-scoring frame so the corpus scoring pass
    materializes ONCE across the ranking and the judge; standalone
    calls build their own.

    Scale posture: the query side of both lists is broadcast (query
    token set and query vectors are O(n_queries)); the candidate scan is
    map-side. Lexical intersections shuffle at (query, cand) pair grain
    — bounded by n_queries × docs-sharing-a-token, never all-pairs of
    the corpus. Both per-query rank windows partition on query_id (one
    task per query, WindowGroupLimit pushes the shortlist cut down),
    and the fusion join runs at shortlist grain (≤ 2·R rows per query).
    At 100 TB the lexical list comes from the same plan over an
    inverted-index-shaped token table and the semantic list from the
    IVF/PQ path — the fusion stage is unchanged.
    """
    # Round-10 exchange shave (6 -> 2 hash shuffles measured): the old
    # shape ranked each leg under its own query_id window, then
    # full-outer-joined the shortlists on (query_id, cand_id) — and
    # because join co-partitioning requires ALL join keys, BOTH sides
    # re-shuffled on the pair even though each was already partitioned
    # by query_id. Instead: UNION the two score lists, repartition by
    # query_id ONCE, and let the subset-partitioning rule carry that
    # one exchange through everything downstream — the per-leg rank
    # window (clustered on (query_id, leg) ⊇ {query_id}), the
    # pair-grain fusion aggregate (clustered on (query_id, cand_id) ⊇
    # {query_id}; aggregates accept subset partitioning, joins do
    # not), and the final fused window. Semantics identical: the
    # fusion groupBy reproduces the full-outer join exactly (a
    # candidate present in one leg only gets a null rank on the other).
    jac = _token_jaccard_scores(spark, sf_dir).select(
        "query_id", "cand_id", F.col("jac").alias("score"),
        F.lit("lex").alias("leg"),
    )
    sem_scores = (
        (_scored(spark, sf_dir) if scored is None else scored)
        .select(
            "query_id", "cand_id", F.col("cos").alias("score"),
            F.lit("sem").alias("leg"),
        )
    )
    w_leg = Window.partitionBy("query_id", "leg").orderBy(
        F.desc("score"), "cand_id"
    )
    shortlists = (
        jac.unionByName(sem_scores)
        .repartition(F.col("query_id"))
        .withColumn("rk", F.row_number().over(w_leg).cast("long"))
        .filter(F.col("rk") <= RRF_SHORTLIST)
    )
    fused = (
        shortlists.groupBy("query_id", "cand_id")
        .agg(
            F.max(F.when(F.col("leg") == "lex", F.col("rk"))).alias(
                "lex_rk"
            ),
            F.max(F.when(F.col("leg") == "sem", F.col("rk"))).alias(
                "cos_rk"
            ),
        )
        .select(
            "query_id",
            "cand_id",
            "lex_rk",
            "cos_rk",
            (
                F.coalesce(
                    F.lit(1.0) / (RRF_K + F.col("lex_rk")), F.lit(0.0)
                )
                + F.coalesce(
                    F.lit(1.0) / (RRF_K + F.col("cos_rk")), F.lit(0.0)
                )
            ).alias("rrf"),
        )
    )
    w_f = Window.partitionBy("query_id").orderBy(F.desc("rrf"), "cand_id")
    return (
        fused.withColumn("fused_rk", F.row_number().over(w_f).cast("long"))
        .filter(F.col("fused_rk") <= TOP_K)
        .select(
            "query_id",
            "cand_id",
            "fused_rk",
            F.round("rrf", 6).alias("rrf"),
            "lex_rk",
            "cos_rk",
        )
    )


HARD_NEG_K = 10      # negatives mined per query
HARD_NEG_POS_CUTOFF = 0.8  # above this lexical sim = presumed positive


def hard_negatives(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hard-negative mining for contrastive retrieval training: for
    each query document, the top-HARD_NEG_K candidates by lexical
    similarity AFTER excluding presumed positives (near-duplicates at
    jac >= HARD_NEG_POS_CUTOFF). These are the classic BM25-negatives
    of DPR-style dual-encoder training — lexically close enough to be
    confusable, excluded only when so close they are probably the same
    document.

    Scale posture: inherits ``_token_jaccard_scores``'s broadcast-query
    pair-grain bound; the positive-cutoff filter and per-query top-k
    window (WindowGroupLimit pushdown) add no shuffle beyond the
    existing pair grain.
    """
    scores = _token_jaccard_scores(spark, sf_dir).filter(
        F.col("jac") < HARD_NEG_POS_CUTOFF
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("jac"), "cand_id")
    return (
        scores.withColumn("rk", F.row_number().over(w).cast("long"))
        .filter(F.col("rk") <= HARD_NEG_K)
        .select(
            "query_id",
            F.col("cand_id").alias("neg_id"),
            "rk",
            F.round("jac", 4).alias("jac"),
        )
    )


def retrieval_ndcg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Retrieval-quality evaluation of the hybrid ranking: NDCG@TOP_K
    and MRR per query, judged against exact-cosine ground truth (gain =
    max(cos, 0); ideal ordering = cosine-desc). The eval harness that
    closes the retrieval loop — build (ann_*), fuse (hybrid_search_rrf),
    then MEASURE, all in-engine and oracle-checked.

    Scale posture: joins run at result-list grain (TOP_K rows per
    query); the only corpus-sized work is the cosine scoring pass both
    the ranking and the judge already share.

    CACHING: the shared corpus-sized scoring frame is ``persist()``-ed
    with session lifetime (rationale in the inline comment below) —
    library consumers calling this in a loop should run
    ``spark.catalog.clearCache()`` between iterations to release it,
    exactly as bench.py's cold-per-run protocol does."""
    # persist(): scored feeds gains, the ideal ranking AND (passed in)
    # hybrid's semantic leg — unaliased subplans re-execute per
    # consumer; the cache-deduped shuffle audit showed this eval
    # instantiating the corpus scoring pass 3x+ (34 static exchanges
    # before the persist; VERDICT r7 item 7 then deduped the ranking's
    # internal scoring leg onto this SAME cache via the scored=
    # handoff). The cache is deliberately session-lifetime (same
    # posture as tfidf_cosine_pairs' tf/w/wn): an eager checkpoint
    # would release it but also truncate the returned plan and blind
    # the shuffle-budget guard (tests/test_shuffle_budgets.py); loop
    # callers use spark.catalog.clearCache() between iterations —
    # exactly what bench.py's cold-per-run protocol does. hybrid lost
    # its second consumer in the round-8 eval-tail fusion (first_hit
    # now comes from the same outer join as dcg/idcg), so it is no
    # longer persisted.
    scored = _scored(spark, sf_dir).persist()
    hybrid = hybrid_search_rrf(spark, sf_dir, scored=scored).select(
        "query_id", "cand_id", "fused_rk"
    )
    # Round-10 exchange shave: the old eval tail ran THREE pair-grain
    # hash joins over `scored` (gains = hybrid ⋈ scored, then
    # gains ⟗ ideal on (query_id, cand_id) — each re-shuffling both
    # sides on the pair) plus the ideal window's own exchange. Instead:
    # rank the WHOLE persisted scoring frame once (one query_id
    # exchange), LEFT-BROADCAST the fused shortlist onto it (the
    # shortlist is O(n_queries × RRF_SHORTLIST) rows by construction —
    # eval-set sized at any corpus scale — and a broadcast join
    # preserves the window's partitioning), and compute dcg / idcg /
    # first_hit in the same single groupBy, now with explicit irk/
    # fused_rk guards replaying exactly the rows the outer merge used
    # to keep: hybrid-shortlist rows for dcg, the cosine top-K for
    # idcg, their intersection for first_hit. Every pair in either leg
    # is a (query, cand≠query) pair of `scored`, so the one frame
    # covers both.
    w = Window.partitionBy("query_id").orderBy(F.desc("cos"), "cand_id")
    judged = (
        scored.withColumn("irk", F.row_number().over(w).cast("long"))
        .join(F.broadcast(hybrid), on=["query_id", "cand_id"], how="left")
        .select(
            "query_id",
            "irk",
            "fused_rk",
            F.greatest(F.col("cos"), F.lit(0.0)).alias("gain"),
        )
    )
    per_q = judged.groupBy("query_id").agg(
        F.sum(
            F.when(
                F.col("fused_rk").isNotNull(),
                F.col("gain") / F.log2(F.col("fused_rk") + 1),
            )
        ).alias("dcg"),
        F.sum(
            F.when(
                F.col("irk") <= TOP_K,
                F.col("gain") / F.log2(F.col("irk") + 1),
            )
        ).alias("idcg"),
        F.min(
            F.when(F.col("irk") <= TOP_K, F.col("fused_rk"))
        ).alias("first_hit"),
    )
    return per_q.select(
        "query_id",
        F.round(F.col("dcg") / nz(F.col("idcg")), 4).alias("ndcg"),
        F.round(
            F.coalesce(F.lit(1.0) / F.col("first_hit"), F.lit(0.0)), 4
        ).alias("mrr"),
    )


MRL_DIMS = 16   # Matryoshka prefix length (full vectors are 64-dim)
MMR_LAMBDA = 0.7  # MMR relevance weight…
MMR_MU = 0.3      # …and its redundancy complement, as an EXPLICIT
                  # second constant: Python's 1 - 0.7 is
                  # 0.30000000000000004, so both engines must share the
                  # literal 0.3 instead of deriving it
MMR_CAND = 10   # candidate pool per query (top-C by relevance)
MMR_SELECT = 5  # MMR selections per query


def matryoshka_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Matryoshka-style truncation audit: per query, the recall@k of
    cosine top-k computed on the first MRL_DIMS dimensions against the
    full-dimension top-k — the measurement behind "can we serve the
    cheap prefix and keep quality" (Kusupati et al., NeurIPS 2022;
    MRL-trained models put the information mass in the prefix, so
    truncated search is the standard latency/recall dial).

    ONE brute-force pass against the broadcast query set (same shape
    as ``cosine_topk``) scores BOTH similarities per (query, cand)
    pair — the full-dimension cosine and the prefix cosine — then two
    ``row_number`` windows over the SAME ``query_id`` partitioning
    rank them (one hash exchange, two sorts: Catalyst satisfies the
    second window's partitioning from the first, so no re-shuffle),
    and the recall rolls up in place: a full-top-k pair is a hit iff
    its prefix rank is also <= k. Round 10 rewrote this from two
    passes + a (query, cand) self-join + re-agg (9 cache-deduped data
    shuffles, embeddings scanned twice) to the join-free single pass
    (2: the small-fixture ``spread`` fan-out + the window exchange —
    at 100 TB the scan is read ONCE and only one pair-grain exchange
    moves data). Exact double math throughout — the truncated cosine
    slices the array BEFORE the fold, so both engines sum the same
    MRL_DIMS products in the same order, identically to the two-pass
    formulation the oracle replays."""
    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    sub = e.select(
        "vec_id",
        "emb",
        F.expr(f"slice(emb, 1, {MRL_DIMS})").alias("emb_t"),
    )
    q = sub.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        F.col("emb_t").alias("q_emb_t"),
        F.expr(_NORM.format(c="emb")).alias("q_norm"),
        F.expr(_NORM.format(c="emb_t")).alias("q_norm_t"),
    )
    c = sub.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        F.col("emb_t").alias("c_emb_t"),
        F.expr(_NORM.format(c="emb")).alias("c_norm"),
        F.expr(_NORM.format(c="emb_t")).alias("c_norm_t"),
    )
    dot_t = _DOT.replace("q_emb", "q_emb_t").replace("c_emb", "c_emb_t")
    pairs = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            (F.expr(_DOT) / nz(F.col("q_norm") * F.col("c_norm"))).alias(
                "cos_full"
            ),
            (F.expr(dot_t) / nz(F.col("q_norm_t") * F.col("c_norm_t"))).alias(
                "cos_trunc"
            ),
        )
    )
    w_full = Window.partitionBy("query_id").orderBy(
        F.desc("cos_full"), "cand_id"
    )
    w_trunc = Window.partitionBy("query_id").orderBy(
        F.desc("cos_trunc"), "cand_id"
    )
    return (
        pairs.withColumn("rk_full", F.row_number().over(w_full))
        .withColumn("rk_trunc", F.row_number().over(w_trunc))
        .filter(F.col("rk_full") <= TOP_K)
        .groupBy("query_id")
        .agg(
            F.sum(
                F.when(F.col("rk_trunc") <= TOP_K, 1).otherwise(0)
            ).alias("n_hits")
        )
        .select(
            "query_id",
            "n_hits",
            F.round(F.col("n_hits") / F.lit(float(TOP_K)), 4).alias(
                "recall"
            ),
        )
    )


def mmr_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Maximal Marginal Relevance re-ranking (Carbonell & Goldstein,
    SIGIR 1998): per query, greedily pick MMR_SELECT results from the
    top-MMR_CAND relevance candidates, each step maximizing
    λ·rel(c) − μ·max_{s∈selected} sim(c, s) — the diversity re-rank
    every retrieval stack runs between ANN shortlist and serving.

    Distributed shape: relevance scoring + top-C pruning are ordinary
    broadcast-scored windows (data-sized, parallel); the inherently
    sequential greedy runs per query over its OWN ≤MMR_CAND candidate
    rows inside one Arrow task (``applyInPandas`` keyed by query_id) —
    at 100 TB the sequential part is bounded by C·S per query, never
    by corpus size. Float determinism: candidate norms ship from the
    Spark-side fold; the pandas stage computes pairwise dots with the
    same left-to-right summation as both engines' fold, and the score
    uses the shared MMR_LAMBDA/MMR_MU literals, so the oracle's
    unrolled-CTE greedy (one CTE per selection step) is bit-identical.
    """
    import pandas as pd  # noqa: PLC0415

    e = _cast_double(spread(load_table(spark, sf_dir, "embeddings")))
    norm = F.expr(_NORM.format(c="emb"))
    q = e.filter(F.col("vec_id") < N_QUERIES).select(
        F.col("vec_id").alias("query_id"),
        F.col("emb").alias("q_emb"),
        norm.alias("q_norm"),
    )
    c = e.select(
        F.col("vec_id").alias("cand_id"),
        F.col("emb").alias("c_emb"),
        norm.alias("c_norm"),
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("rel"), "cand_id")
    cand = (
        c.crossJoin(F.broadcast(q))
        .filter(F.col("cand_id") != F.col("query_id"))
        .select(
            "query_id",
            "cand_id",
            "c_emb",
            "c_norm",
            (F.expr(_DOT) / nz(F.col("q_norm") * F.col("c_norm"))).alias(
                "rel"
            ),
        )
        .withColumn("rk", F.row_number().over(w))
        .filter(F.col("rk") <= MMR_CAND)
        .select("query_id", "cand_id", "c_emb", "c_norm", "rel")
    )

    def greedy(pdf: pd.DataFrame) -> pd.DataFrame:
        # deterministic candidate order = the tiebreak order
        pdf = pdf.sort_values(["cand_id"]).reset_index(drop=True)
        embs = {r.cand_id: list(r.c_emb) for r in pdf.itertuples()}
        norms = {r.cand_id: float(r.c_norm) for r in pdf.itertuples()}
        rels = {r.cand_id: float(r.rel) for r in pdf.itertuples()}

        def sdot(a: list, b: list) -> float:
            acc = 0.0
            for x, y in zip(a, b):
                acc = acc + x * y
            return acc

        remaining = sorted(embs)
        selected: list[int] = []
        out = []
        for step in range(1, MMR_SELECT + 1):
            if not remaining:
                # candidate pool smaller than MMR_SELECT: emit the
                # short ranking (kcenter_coreset's `if not cand` twin)
                # instead of crashing on remove(None)
                break
            best_id, best_score = None, None
            for cid in remaining:
                if step == 1:
                    score = rels[cid]
                else:
                    maxsim = max(
                        sdot(embs[cid], embs[s])
                        / (norms[cid] * norms[s])
                        for s in selected
                    )
                    score = MMR_LAMBDA * rels[cid] - MMR_MU * maxsim
                if best_score is None or score > best_score:
                    best_id, best_score = cid, score
            selected.append(best_id)
            remaining.remove(best_id)
            out.append(
                (int(pdf.query_id.iloc[0]), int(best_id), step, best_score)
            )
        return pd.DataFrame(
            out, columns=["query_id", "cand_id", "mmr_rank", "mmr_score"]
        )

    picked = cand.groupBy("query_id").applyInPandas(
        greedy,
        schema="query_id long, cand_id long, mmr_rank long, "
        "mmr_score double",
    )
    return picked.select(
        "query_id",
        "cand_id",
        "mmr_rank",
        F.round("mmr_score", 4).alias("mmr_score"),
    )


QUERIES = {
    "embedding_norms": embedding_norms,
    "embedding_norms_arrow": embedding_norms_arrow,
    "mad_by_group": mad_by_group,
    "cosine_topk": cosine_topk,
    "cosine_topk_pandas": cosine_topk_pandas,
    "ann_lsh_bucket": ann_lsh_bucket,
    "dedup_embedding_cosine": dedup_embedding_cosine,
    "ann_ivf": ann_ivf,
    "ann_ivf_kmeans": ann_ivf_kmeans,
    "ivf_index_probe_topk": ivf_index_probe_topk,
    "embedding_int8_quantize": embedding_int8_quantize,
    "embedding_centroids": embedding_centroids,
    "embedding_drift_by_label": embedding_drift_by_label,
    "intra_label_cosine": intra_label_cosine,
    "pq_encode": pq_encode,
    "ann_pq_adc": ann_pq_adc,
    "ann_pq_refine": ann_pq_refine,
    "hybrid_search_rrf": hybrid_search_rrf,
    "hard_negatives": hard_negatives,
    "retrieval_ndcg": retrieval_ndcg,
    "matryoshka_topk": matryoshka_topk,
    "mmr_rerank": mmr_rerank,
}

_SQL_NORM = "sqrt(list_dot_product({c}::DOUBLE[], {c}::DOUBLE[]))"
_SQL_BUCKET_TERMS = " + ".join(
    f"(CASE WHEN embedding[{i + 1}] >= 0 THEN {1 << i} ELSE 0 END)"
    for i in range(LSH_BITS)
)

ORACLES = {
    "intra_label_cosine": """
        WITH unit AS (
            SELECT label,
                   list_transform(embedding::DOUBLE[],
                       x -> x / sqrt(list_dot_product(
                           embedding::DOUBLE[], embedding::DOUBLE[])))
                       AS v
            FROM embeddings
        ), pos AS (
            SELECT label, generate_subscripts(v, 1) AS p,
                   unnest(v) AS x
            FROM unit
        ), sums AS (
            SELECT label, p, sum(x) AS s FROM pos GROUP BY label, p
        ), per AS (
            SELECT label, sum(s * s) AS ssq FROM sums GROUP BY label
        ), cnt AS (
            SELECT label, count(*)::BIGINT AS n FROM unit GROUP BY label
        )
        SELECT label, n,
               round((ssq - n) / (n * (n - 1)), 4) + 0.0
                   AS mean_intra_cosine
        FROM per JOIN cnt USING (label)
    """,
    "mad_by_group": """
        SELECT event_type,
               round(median(value), 4) AS median_value,
               round(mad(value), 4) AS mad_value,
               count(*)::BIGINT AS n
        FROM events GROUP BY event_type
    """,
    "embedding_norms": f"""
        SELECT vec_id,
               round({_SQL_NORM.format(c='embedding')}, 6) AS l2_norm
        FROM embeddings
    """,
    "embedding_norms_arrow": f"""
        SELECT vec_id,
               round({_SQL_NORM.format(c='embedding')}, 6) AS l2_norm
        FROM embeddings
    """,
    "cosine_topk": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb,
                   {_SQL_NORM.format(c='embedding')} AS q_norm
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ), scored AS (
            SELECT query_id, e.vec_id AS cand_id,
                   list_dot_product(q_emb::DOUBLE[], embedding::DOUBLE[])
                       / (q_norm * {_SQL_NORM.format(c='embedding')}) AS cos
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
        ), ranked AS (
            SELECT query_id, cand_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, cand_id) AS rk
            FROM scored
        )
        SELECT query_id, cand_id, rk, round(cos, 4) AS cos
        FROM ranked WHERE rk <= {TOP_K}
    """,
    # the Arrow/numpy twin shares the brute-force oracle: matmul vs
    # sequential-fold summation differ by ~1e-16 ulps, which survives
    # neither the 4dp round (flip needs a true cos within 1e-16 of a
    # .00005 boundary) nor the ranking (a flip needs two DISTINCT
    # candidates within ulps of the same cos; exact-duplicate vectors
    # score identically under both summations and tie-break by
    # cand_id on both engines) — and twin agreement with cosine_topk
    # stays asserted in tests/test_llm.py
    "cosine_topk_pandas": f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS q_emb,
                   {_SQL_NORM.format(c='embedding')} AS q_norm
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ), scored AS (
            SELECT query_id, e.vec_id AS cand_id,
                   list_dot_product(q_emb::DOUBLE[], embedding::DOUBLE[])
                       / (q_norm * {_SQL_NORM.format(c='embedding')}) AS cos
            FROM embeddings e, q WHERE e.vec_id <> q.query_id
        ), ranked AS (
            SELECT query_id, cand_id, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, cand_id) AS rk
            FROM scored
        )
        SELECT query_id, cand_id, rk, round(cos, 4) AS cos
        FROM ranked WHERE rk <= {TOP_K}
    """,
    "ann_lsh_bucket": f"""
        WITH keyed AS (
            SELECT vec_id, embedding,
                   {_SQL_NORM.format(c='embedding')} AS nrm,
                   ({_SQL_BUCKET_TERMS})::BIGINT AS bucket
            FROM embeddings
        ), q AS (
            SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm,
                   bucket
            FROM keyed WHERE vec_id < {N_QUERIES}
        ), scored AS (
            SELECT query_id, k.vec_id AS cand_id, k.bucket,
                   list_dot_product(q_emb::DOUBLE[], k.embedding::DOUBLE[])
                       / (q_norm * k.nrm) AS cos
            FROM keyed k JOIN q ON k.bucket = q.bucket
            WHERE k.vec_id <> q.query_id
        ), ranked AS (
            SELECT query_id, cand_id, bucket, cos,
                   row_number() OVER (PARTITION BY query_id
                                      ORDER BY cos DESC, cand_id) AS rk
            FROM scored
        )
        SELECT query_id, cand_id, bucket, rk, round(cos, 4) AS cos
        FROM ranked WHERE rk <= 3
    """,
}

_SQL_BAND_KEY = " + ".join(
    f"(CASE WHEN embedding[band * {DUP_BAND_BITS} + {i + 1}] >= 0 "
    f"THEN {1 << i} ELSE 0 END)"
    for i in range(DUP_BAND_BITS)
)

ORACLES["embedding_drift_by_label"] = """
    WITH comp AS (
        SELECT label, u.pos - 1 AS pos, CAST(u.v AS DOUBLE) AS v
        FROM embeddings,
             LATERAL (SELECT unnest(embedding) AS v,
                             generate_subscripts(embedding, 1) AS pos) u
    ), per_label AS (
        SELECT label, pos, avg(v) AS c, count(*) AS n
        FROM comp GROUP BY label, pos
    ), gc AS (
        SELECT pos, avg(v) AS g FROM comp GROUP BY pos
    )
    SELECT label,
           max(n)::BIGINT AS n_vecs,
           round(sum(c * g) / (sqrt(sum(c * c)) * sqrt(sum(g * g))), 6)
               AS cos_to_global
    FROM per_label JOIN gc USING (pos)
    GROUP BY label
"""

ORACLES["embedding_centroids"] = """
    SELECT label, pos, round(avg(v), 6) AS centroid,
           count(*)::BIGINT AS n_vecs
    FROM (
        SELECT label,
               unnest(embedding)::DOUBLE AS v,
               generate_subscripts(embedding, 1) AS pos
        FROM embeddings
    )
    GROUP BY label, pos
"""

ORACLES["dedup_embedding_cosine"] = f"""
    WITH n AS (
        SELECT vec_id, embedding,
               {_SQL_NORM.format(c='embedding')} AS nrm
        FROM embeddings
    ), keyed AS (
        SELECT vec_id, embedding, nrm, band,
               ({_SQL_BAND_KEY}) AS bkey
        FROM n, (SELECT unnest(generate_series(0, {DUP_BANDS - 1})) AS band)
    ), pairs AS (
        SELECT DISTINCT a.vec_id AS vec_a, b.vec_id AS vec_b,
               list_dot_product(a.embedding::DOUBLE[], b.embedding::DOUBLE[])
                   / (a.nrm * b.nrm) AS cos
        FROM keyed a JOIN keyed b
          ON a.band = b.band AND a.bkey = b.bkey AND a.vec_id < b.vec_id
    )
    SELECT vec_a, vec_b, round(cos, 4) AS cos
    FROM pairs WHERE cos >= {COS_DUP_THRESH}
"""

ORACLES["ann_ivf"] = f"""
    WITH n AS (
        SELECT vec_id, embedding,
               {_SQL_NORM.format(c='embedding')} AS nrm
        FROM embeddings
    ), cents AS (
        SELECT vec_id AS cid, embedding AS c_emb, nrm AS c_norm
        FROM n WHERE vec_id < {IVF_CELLS}
    ), assigned AS (
        SELECT vec_id, embedding, nrm, cid AS cell FROM (
            SELECT n.vec_id, n.embedding, n.nrm, c.cid,
                   row_number() OVER (
                       PARTITION BY n.vec_id
                       ORDER BY list_dot_product(n.embedding::DOUBLE[],
                                                 c.c_emb::DOUBLE[])
                                / (n.nrm * c.c_norm) DESC, c.cid
                   ) AS rk
            FROM n, cents c
        ) WHERE rk = 1
    ), q AS (
        SELECT vec_id AS query_id, embedding AS q_emb, nrm AS q_norm, cell
        FROM assigned WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT query_id, a.vec_id AS cand_id, a.cell,
               list_dot_product(q_emb::DOUBLE[], a.embedding::DOUBLE[])
                   / (q_norm * a.nrm) AS cos
        FROM assigned a JOIN q USING (cell)
        WHERE a.vec_id <> q.query_id
    ), ranked AS (
        SELECT query_id, cand_id, cell, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id) AS rk
        FROM scored
    )
    SELECT query_id, cand_id, cell, rk, round(cos, 4) AS cos
    FROM ranked WHERE rk <= {IVF_TOP_K}
"""

NO_ORACLE: dict[str, str] = {}

# Spark's in-plan cosine is a SEQUENTIAL left fold
# (aggregate(zip_with(...), 0.0D, acc + x)) — DuckDB replays the
# identical IEEE operation order with list_reduce over a 0.0-prepended
# product list, so the cosines are bit-identical, not merely close.
_SQL_FOLD_SQ = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform({l}, x -> CAST(x AS DOUBLE) * CAST(x AS DOUBLE))), "
    "(a, b) -> a + b)"
)
_SQL_FOLD_DOT = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), "
    "list_transform(list_zip({a}, {b}), "
    "z -> CAST(z[1] AS DOUBLE) * CAST(z[2] AS DOUBLE))), "
    "(a, b) -> a + b)"
)


def _ann_ivf_kmeans_oracle() -> str:
    """Full replay of the trained-IVF search (oracled round 7, closing
    the VERDICT item-2 list): the k-means fixpoint comes from
    training._KMEANS_REC (exact-decimal Lloyd replay), probe cells are
    the IVF_NPROBE nearest centroids by the same snapped-decimal d2
    (ties to the lower cell — np.argsort(kind='stable') parity), and
    candidate scoring replays Spark's sequential cosine fold
    bit-exactly. Residual risk: the kmeans argmin/probe tie class
    documented in training.lloyd_centroids."""
    from .training import _KMEANS_REC  # noqa: PLC0415

    dot = _SQL_FOLD_DOT.format(a="q.embedding", b="c.embedding")
    nq = _SQL_FOLD_SQ.format(l="q.embedding")
    nc = _SQL_FOLD_SQ.format(l="c.embedding")
    return _KMEANS_REC + f"""
        , probes AS MATERIALIZED (
            SELECT vec_id AS query_id, cid AS cell FROM (
                SELECT vec_id, cid,
                       row_number() OVER (
                           PARTITION BY vec_id ORDER BY d2, cid
                       ) AS prk
                FROM d2f WHERE vec_id < {N_QUERIES}
            ) WHERE prk <= {IVF_NPROBE}
        ),
        scored AS (
            SELECT p.query_id, a.vec_id AS cand_id,
                   {dot} / nullif(sqrt({nq}) * sqrt({nc}), 0.0) AS cos
            FROM asgf a
            JOIN probes p ON p.cell = a.cid
                         AND a.vec_id != p.query_id
            JOIN embeddings q ON q.vec_id = p.query_id
            JOIN embeddings c ON c.vec_id = a.vec_id
        )
        SELECT query_id, cand_id, rk,
               CAST(round(CAST(cos AS DECIMAL(18,8)), 4) AS DOUBLE)
                   AS cos
        FROM (
            SELECT query_id, cand_id, cos,
                   row_number() OVER (
                       PARTITION BY query_id ORDER BY cos DESC, cand_id
                   )::BIGINT AS rk
            FROM scored
        ) WHERE rk <= {TOP_K}
    """


ORACLES["ann_ivf_kmeans"] = _ann_ivf_kmeans_oracle()
# the persisted-index probe returns EXACTLY the inline trained-IVF
# result (test-pinned equality in tests/test_layout.py) — same oracle
ORACLES["ivf_index_probe_topk"] = ORACLES["ann_ivf_kmeans"]

_PQ_SUB = 64 // PQ_M  # subspace width on the 64-dim fixture embeddings
# _pq_tree_d2 hardcodes the 8-leaf combine tree; a PQ_M change would
# silently compute distances over the wrong width without this pin
# (if/raise, not assert: asserts vanish under python -O)
if _PQ_SUB != 8:
    raise RuntimeError("_pq_tree_d2's combine tree is written for 8")

# Sequential left fold over an (already ordered) list — DuckDB twin of
# a Python `acc = 0.0; for v: acc += v` loop.
_SQL_SEQ_FOLD = (
    "list_reduce(list_prepend(CAST(0.0 AS DOUBLE), {l}), (a, b) -> a + b)"
)


def _pq_tree_d2(a: str, b: str) -> str:
    """Squared L2 over one 8-wide subspace in numpy's exactly-8-element
    pairwise order ((t1+t2)+(t3+t4))+((t5+t6)+(t7+t8)) — the order
    `((X - C) ** 2).sum(2)` uses (measured, pinned in
    tests/test_pq_twins.py), so every distance replays bit-for-bit."""
    t = [
        f"(({a}[{i}] - {b}[{i}]) * ({a}[{i}] - {b}[{i}]))"
        for i in range(1, _PQ_SUB + 1)
    ]
    return (
        f"((({t[0]} + {t[1]}) + ({t[2]} + {t[3]})) + "
        f"(({t[4]} + {t[5]}) + ({t[6]} + {t[7]})))"
    )


def _pq_oracle_ctes() -> str:
    """Shared replay of the PQ pipeline (oracled round 7, closing three
    NO_ORACLE rows): training is driver-side over a bounded ORDERED
    sample (_pq_train), so every float op has a fixed order DuckDB can
    replay — sequential-fold norms (list_reduce = the Python loop,
    sqrt = math.sqrt), first-K exact-distinct init in vec_id order, the
    8-term tree-order distance sum (_pq_tree_d2), argmin ties to the
    lower k (np.argmin first-hit = ORDER BY d2, k), and centroid means
    as a sequential fold over rows in vec_id order divided once.
    Residual risk: the kmeans argmin-tie class documented in
    training.lloyd_centroids."""
    d2_asg = _pq_tree_d2("s.s", "cur.c")
    d2_enc = _pq_tree_d2("s.s", "f.c")
    norm_sq = _SQL_FOLD_SQ.format(l="embedding")
    ms = f"(SELECT unnest(range({PQ_M}))::BIGINT AS m)"
    sl = f"m.m * {_PQ_SUB} + 1 : m.m * {_PQ_SUB} + {_PQ_SUB}"
    return f"""
    WITH RECURSIVE
    nrm AS MATERIALIZED (
        SELECT vec_id,
               list_transform(embedding,
                   ex -> CAST(ex AS DOUBLE) / sqrt({norm_sq})) AS v
        FROM embeddings
    ),
    sub AS MATERIALIZED (
        SELECT t.vec_id, m.m, t.v[{sl}] AS s
        FROM (SELECT vec_id, v FROM nrm
              ORDER BY vec_id LIMIT {PQ_TRAIN_N}) t
        CROSS JOIN {ms} m
    ),
    allsub AS MATERIALIZED (
        SELECT n.vec_id, m.m, n.v[{sl}] AS s
        FROM nrm n CROSS JOIN {ms} m
    ),
    init AS MATERIALIZED (
        SELECT CAST(0 AS BIGINT) AS it, m,
               row_number() OVER (PARTITION BY m ORDER BY vec_id) - 1
                   AS k,
               s AS c
        FROM (
            SELECT m, vec_id, s FROM (
                SELECT m, vec_id, s,
                       row_number() OVER (
                           PARTITION BY m, s ORDER BY vec_id) AS occ
                FROM sub)
            WHERE occ = 1)
        QUALIFY k < {PQ_K}
    ),
    rec AS (
        SELECT * FROM init
        UNION ALL
        SELECT z.* FROM (
            WITH cur AS MATERIALIZED (
                SELECT * FROM rec WHERE it < {PQ_ITERS}
            ),
            asg AS MATERIALIZED (
                SELECT m, vec_id, k FROM (
                    SELECT s.m, s.vec_id, cur.k,
                           row_number() OVER (
                               PARTITION BY s.m, s.vec_id
                               ORDER BY {d2_asg}, cur.k) AS rk
                    FROM sub s JOIN cur ON cur.m = s.m
                ) WHERE rk = 1
            ),
            pts AS MATERIALIZED (
                SELECT u.m, u.k, u.vec_id, u.u.i::BIGINT AS j,
                       CAST(u.u.c AS DOUBLE) AS x
                FROM (
                    SELECT a.m, a.k, a.vec_id,
                           unnest(list_transform(s.s,
                                  (c, i) -> {{'c': c, 'i': i}})) AS u
                    FROM asg a
                    JOIN sub s ON s.m = a.m AND s.vec_id = a.vec_id
                ) u
            ),
            upd AS MATERIALIZED (
                SELECT m, k, list(cj ORDER BY j) AS cnew
                FROM (
                    SELECT m, k, j,
                           {_SQL_SEQ_FOLD.format(
                               l='list(x ORDER BY vec_id)')}
                               / count(*) AS cj
                    FROM pts GROUP BY m, k, j
                ) GROUP BY m, k
            )
            SELECT cur.it + 1 AS it, cur.m, cur.k,
                   COALESCE(u.cnew, cur.c) AS c
            FROM cur LEFT JOIN upd u
                   ON u.m = cur.m AND u.k = cur.k
        ) z
    ),
    fin AS MATERIALIZED (
        SELECT m, k, c FROM rec WHERE it = {PQ_ITERS}
    ),
    enc AS MATERIALIZED (
        SELECT m, vec_id, k AS code, d2 FROM (
            SELECT s.m, s.vec_id, f.k, {d2_enc} AS d2,
                   row_number() OVER (
                       PARTITION BY s.m, s.vec_id
                       ORDER BY {d2_enc}, f.k) AS rk
            FROM allsub s JOIN fin f ON f.m = s.m
        ) WHERE rk = 1
    ),
    lut AS MATERIALIZED (
        SELECT s.vec_id AS query_id, f.m, f.k, {d2_enc} AS ld
        FROM allsub s JOIN fin f ON f.m = s.m
        WHERE s.vec_id < {N_QUERIES}
    ),
    adcrk AS MATERIALIZED (
        SELECT query_id, cand_id, adc_dist,
               row_number() OVER (
                   PARTITION BY query_id
                   ORDER BY adc_dist, cand_id)::BIGINT AS rk
        FROM (
            SELECT l.query_id, e.vec_id AS cand_id,
                   {_SQL_SNAP6.format(
                       x=_SQL_SEQ_FOLD.format(
                           l='list(l.ld ORDER BY l.m)'))} AS adc_dist
            FROM enc e JOIN lut l ON l.m = e.m AND l.k = e.code
            WHERE l.query_id <> e.vec_id
            GROUP BY l.query_id, e.vec_id
        )
    )
"""


# snap_round_sql with a format slot — ONE definition of the
# engine-portable snap rule (functions/numeric.py), not a local copy
_SQL_SNAP6 = snap_round_sql("({x})", 6)

ORACLES["pq_encode"] = _pq_oracle_ctes() + f"""
    SELECT vec_id,
           string_agg(code::VARCHAR, ',' ORDER BY m) AS codes,
           {_SQL_SNAP6.format(
               x=_SQL_SEQ_FOLD.format(l='list(d2 ORDER BY m)')
               + f' / {PQ_M * _PQ_SUB}')} AS recon_mse
    FROM enc GROUP BY vec_id
"""

ORACLES["ann_pq_adc"] = _pq_oracle_ctes() + f"""
    SELECT query_id, cand_id, rk, adc_dist
    FROM adcrk WHERE rk <= {TOP_K}
"""

ORACLES["ann_pq_refine"] = _pq_oracle_ctes() + f"""
    , ex AS MATERIALIZED (
        SELECT s.query_id, s.cand_id,
               {_SQL_FOLD_DOT.format(a='q.embedding', b='c.embedding')}
                   / nullif(
                       sqrt({_SQL_FOLD_SQ.format(l='q.embedding')})
                       * sqrt({_SQL_FOLD_SQ.format(l='c.embedding')}),
                       0.0) AS cos
        FROM (SELECT query_id, cand_id FROM adcrk
              WHERE rk <= {PQ_SHORTLIST}) s
        JOIN embeddings q ON q.vec_id = s.query_id
        JOIN embeddings c ON c.vec_id = s.cand_id
    )
    SELECT query_id, cand_id, rk,
           {snap_round_sql('cos', 4)} AS cos
    FROM (
        SELECT query_id, cand_id, cos,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id)::BIGINT
                   AS rk
        FROM ex
    ) WHERE rk <= {TOP_K}
"""

_SQL_HYBRID_CTES = f"""toks AS (
        SELECT DISTINCT doc_id, w
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\\s+')) AS w
              FROM documents)
        WHERE length(w) > 0
    ), sizes AS (
        SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
               count(*) AS n_inter
        FROM toks q JOIN toks c USING (w)
        WHERE q.doc_id < {N_QUERIES} AND c.doc_id <> q.doc_id
        GROUP BY q.doc_id, c.doc_id
    ), jac AS (
        SELECT query_id, cand_id,
               n_inter / (sc.n_toks + sq.n_toks - n_inter) AS jac
        FROM inter
        JOIN sizes sc ON sc.doc_id = cand_id
        JOIN sizes sq ON sq.doc_id = query_id
    ), lex AS (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY jac DESC, cand_id) AS lex_rk
        FROM jac QUALIFY lex_rk <= {RRF_SHORTLIST}
    ), q AS (
        SELECT vec_id AS query_id, embedding AS q_emb,
               {_SQL_NORM.format(c='embedding')} AS q_norm
        FROM embeddings WHERE vec_id < {N_QUERIES}
    ), scored AS (
        SELECT query_id, e.vec_id AS cand_id,
               list_dot_product(q_emb::DOUBLE[], embedding::DOUBLE[])
                   / (q_norm * {_SQL_NORM.format(c='embedding')}) AS cos
        FROM embeddings e, q WHERE e.vec_id <> q.query_id
    ), sem AS (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id) AS cos_rk
        FROM scored QUALIFY cos_rk <= {RRF_SHORTLIST}
    ), fused AS (
        SELECT coalesce(lex.query_id, sem.query_id) AS query_id,
               coalesce(lex.cand_id, sem.cand_id) AS cand_id,
               lex_rk, cos_rk,
               coalesce(1.0 / ({RRF_K} + lex_rk), 0)
                   + coalesce(1.0 / ({RRF_K} + cos_rk), 0) AS rrf
        FROM lex FULL OUTER JOIN sem
          ON lex.query_id = sem.query_id AND lex.cand_id = sem.cand_id
    ), hybrid AS (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY rrf DESC, cand_id)
                   AS fused_rk,
               rrf, lex_rk, cos_rk
        FROM fused
        QUALIFY fused_rk <= {TOP_K}
    )"""

ORACLES["hybrid_search_rrf"] = f"""
    WITH {_SQL_HYBRID_CTES}
    SELECT query_id, cand_id, fused_rk, round(rrf, 6) AS rrf,
           lex_rk, cos_rk
    FROM hybrid
"""

ORACLES["retrieval_ndcg"] = f"""
    WITH {_SQL_HYBRID_CTES}, gains AS (
        SELECT h.query_id, h.fused_rk, greatest(s.cos, 0) AS gain
        FROM hybrid h JOIN scored s
          ON h.query_id = s.query_id AND h.cand_id = s.cand_id
    ), dcg AS (
        SELECT query_id, sum(gain / log2(fused_rk + 1)) AS dcg
        FROM gains GROUP BY query_id
    ), ideal AS (
        SELECT query_id, cand_id,
               row_number() OVER (PARTITION BY query_id
                                  ORDER BY cos DESC, cand_id) AS irk,
               greatest(cos, 0) AS gain
        FROM scored QUALIFY irk <= {TOP_K}
    ), idcg AS (
        SELECT query_id, sum(gain / log2(irk + 1)) AS idcg
        FROM ideal GROUP BY query_id
    ), hits AS (
        SELECT h.query_id, min(h.fused_rk) AS first_hit
        FROM hybrid h
        WHERE EXISTS (SELECT 1 FROM ideal i
                      WHERE i.query_id = h.query_id
                        AND i.cand_id = h.cand_id)
        GROUP BY h.query_id
    )
    SELECT d.query_id,
           round(d.dcg / i.idcg, 4) AS ndcg,
           round(coalesce(1.0 / h.first_hit, 0), 4) AS mrr
    FROM dcg d
    JOIN idcg i ON d.query_id = i.query_id
    LEFT JOIN hits h ON d.query_id = h.query_id
"""

ORACLES["hard_negatives"] = f"""
    WITH toks AS (
        SELECT DISTINCT doc_id, w
        FROM (SELECT doc_id,
                     unnest(string_split_regex(lower(text), '\\s+')) AS w
              FROM documents)
        WHERE length(w) > 0
    ), sizes AS (
        SELECT doc_id, count(*) AS n_toks FROM toks GROUP BY doc_id
    ), inter AS (
        SELECT q.doc_id AS query_id, c.doc_id AS cand_id,
               count(*) AS n_inter
        FROM toks q JOIN toks c USING (w)
        WHERE q.doc_id < {N_QUERIES} AND c.doc_id <> q.doc_id
        GROUP BY q.doc_id, c.doc_id
    ), jac AS (
        SELECT query_id, cand_id,
               n_inter / (sc.n_toks + sq.n_toks - n_inter) AS jac
        FROM inter
        JOIN sizes sc ON sc.doc_id = cand_id
        JOIN sizes sq ON sq.doc_id = query_id
    )
    SELECT query_id, cand_id AS neg_id,
           row_number() OVER (PARTITION BY query_id
                              ORDER BY jac DESC, cand_id) AS rk,
           round(jac, 4) AS jac
    FROM jac
    WHERE jac < {HARD_NEG_POS_CUTOFF}
    QUALIFY rk <= {HARD_NEG_K}
"""

ORACLES["embedding_int8_quantize"] = f"""
    WITH rng AS (
        SELECT min(u.x) AS lo, max(u.x) AS hi
        FROM embeddings, unnest(embedding::DOUBLE[]) AS u(x)
    ),
    q AS (
        SELECT vec_id, embedding::DOUBLE[] AS emb, lo,
               (hi - lo) / {INT8_LEVELS} AS step
        FROM embeddings, rng
    ),
    quant AS (
        SELECT vec_id, emb, lo, step,
               [CAST(round((x - lo) / step) - 127 AS INT)
                FOR x IN emb] AS q8
        FROM q
    )
    SELECT vec_id,
           q8[1] AS q8_first,
           list_sum([abs(v)::BIGINT FOR v IN q8])::BIGINT AS l1_q8,
           round(list_sum([pow(emb[i] - (lo + (q8[i] + 127) * step), 2)
                           FOR i IN generate_series(1, len(emb))])
                 / len(emb), 8) AS mse
    FROM quant
"""


def _sql_brute_topk(emb: str) -> str:
    """Top-TOP_K CTE body over a (possibly sliced) embedding
    expression — shared by the matryoshka oracle's two passes."""
    nrm = _SQL_NORM.format(c=f"e.{emb}")
    qn = _SQL_NORM.format(c=emb)
    return f"""
            SELECT query_id, cand_id FROM (
                SELECT q.query_id, e.vec_id AS cand_id,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY
                             list_dot_product(q.qe::DOUBLE[],
                                              e.{emb}::DOUBLE[])
                             / (q.qn * {nrm}) DESC,
                           e.vec_id) AS rk
                FROM embeddings e,
                     (SELECT vec_id AS query_id, {emb} AS qe,
                             {qn} AS qn
                      FROM embeddings
                      WHERE vec_id < {N_QUERIES}) q
                WHERE e.vec_id <> q.query_id
            ) WHERE rk <= {TOP_K}"""


ORACLES["matryoshka_topk"] = f"""
    WITH ftop AS ({_sql_brute_topk('embedding')}
    ), ttop AS ({_sql_brute_topk(f'embedding[1:{MRL_DIMS}]')}
    )
    SELECT f.query_id,
           sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0
               END)::BIGINT AS n_hits,
           round(CAST(sum(CASE WHEN t.cand_id IS NOT NULL THEN 1 ELSE 0
                          END) AS DOUBLE) / {float(TOP_K)}, 4) AS recall
    FROM ftop f LEFT JOIN ttop t
      ON f.query_id = t.query_id AND f.cand_id = t.cand_id
    GROUP BY f.query_id
"""


def _mmr_oracle() -> str:
    """Unrolled-CTE greedy MMR — one CTE per selection step, each
    picking the argmax of λ·rel − μ·max-sim-to-selected over the
    not-yet-selected candidates (identical float expression tree to
    the engine's per-query Arrow greedy)."""
    nrm = _SQL_NORM.format(c="e.embedding")
    base = f"""
        WITH q AS (
            SELECT vec_id AS query_id, embedding AS qe,
                   {_SQL_NORM.format(c='embedding')} AS qn
            FROM embeddings WHERE vec_id < {N_QUERIES}
        ), cand AS (
            SELECT query_id, cand_id, emb, nrm, rel, rk FROM (
                SELECT q.query_id, e.vec_id AS cand_id,
                       e.embedding AS emb,
                       {nrm} AS nrm,
                       list_dot_product(q.qe::DOUBLE[],
                                        e.embedding::DOUBLE[])
                           / (q.qn * {nrm}) AS rel,
                       row_number() OVER (PARTITION BY q.query_id
                           ORDER BY
                             list_dot_product(q.qe::DOUBLE[],
                                              e.embedding::DOUBLE[])
                             / (q.qn * {nrm}) DESC,
                           e.vec_id) AS rk
                FROM embeddings e, q WHERE e.vec_id <> q.query_id
            ) WHERE rk <= {MMR_CAND}
        ), pair AS (
            SELECT a.query_id, a.cand_id AS ca, b.cand_id AS cb,
                   list_dot_product(a.emb::DOUBLE[], b.emb::DOUBLE[])
                       / (a.nrm * b.nrm) AS sim
            FROM cand a JOIN cand b
              ON a.query_id = b.query_id AND a.cand_id <> b.cand_id
        ), s1 AS (
            SELECT query_id, cand_id, rel AS mmr_score,
                   1::BIGINT AS mmr_rank
            FROM cand WHERE rk = 1
        ), sel1 AS (SELECT * FROM s1)"""
    steps = []
    for i in range(2, MMR_SELECT + 1):
        steps.append(f""", s{i} AS (
            SELECT query_id, cand_id, mmr_score,
                   {i}::BIGINT AS mmr_rank
            FROM (
                SELECT c.query_id, c.cand_id,
                       {MMR_LAMBDA} * c.rel - {MMR_MU} * max(p.sim)
                           AS mmr_score,
                       row_number() OVER (PARTITION BY c.query_id
                           ORDER BY {MMR_LAMBDA} * c.rel
                                    - {MMR_MU} * max(p.sim) DESC,
                                    c.cand_id) AS rk
                FROM cand c
                JOIN pair p ON p.query_id = c.query_id
                           AND p.ca = c.cand_id
                JOIN sel{i - 1} s ON s.query_id = p.query_id
                                 AND s.cand_id = p.cb
                WHERE NOT EXISTS (
                    SELECT 1 FROM sel{i - 1} x
                    WHERE x.query_id = c.query_id
                      AND x.cand_id = c.cand_id)
                GROUP BY c.query_id, c.cand_id, c.rel
            ) WHERE rk = 1
        ), sel{i} AS (
            SELECT * FROM sel{i - 1} UNION ALL SELECT * FROM s{i}
        )""")
    final = f"""
        SELECT query_id, cand_id, mmr_rank,
               round(mmr_score, 4) AS mmr_score
        FROM sel{MMR_SELECT}"""
    return base + "".join(steps) + final


ORACLES["mmr_rerank"] = _mmr_oracle()
