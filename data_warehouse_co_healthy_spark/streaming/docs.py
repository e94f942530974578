"""Streaming staging helpers and the embedding-stream quality scorer.

The file stream source reads a DIRECTORY, while the fixtures are single
parquet files; ``_staged_dir`` stages each fixture once per process
(symlink or materialized files), keyed on the fixture's fingerprint,
and every file-stream source in the package goes through it.
``fresh_tmpdir`` hands out never-cached dirs on the same atexit
cleanup.

``streaming_quality_scores`` is the train-offline / serve-online shape:
the quality probe is fitted in batch and the arriving embedding stream
is scored with the batch scorer (asserted bit-identical in
tests/test_streaming.py).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


_STAGED_DIRS: dict[tuple, str] = {}
_STAGED_ALL: list[str] = []


def _source_fingerprint(path: str) -> tuple:
    """(mtime_ns, size) fingerprint of the fixture a staged dir derives
    from (file or directory of part-files) — same construction as
    llm.training._probe_cache_key. Folding this into the cache key
    means rewriting a fixture at the same path rebuilds the staged
    dir instead of serving stale materialized media."""
    import os  # noqa: PLC0415

    parts: list[tuple[str, int, int]] = []
    try:
        if os.path.isdir(path):
            for root, dirs, files in os.walk(path):
                dirs.sort()
                rel = os.path.relpath(root, path)
                for f in sorted(files):
                    st = os.stat(os.path.join(root, f))
                    parts.append(
                        (os.path.join(rel, f), st.st_mtime_ns, st.st_size)
                    )
        else:
            st = os.stat(path)
            parts.append(("", st.st_mtime_ns, st.st_size))
    except OSError:
        pass
    return tuple(parts)


def _staged_dir(kind: str, sf_dir: str, prefix: str, build, src: str) -> str:
    """Shared per-(kind, sf_dir, source-fingerprint) staging-directory
    cache: build once, revalidate on reuse, clean every staged dir at
    interpreter exit — repeated streaming calls share one dir instead
    of leaking a mkdtemp per call. The key folds in ``src``'s
    mtime+size fingerprint, so rewriting the fixture at the same path
    within a process rebuilds rather than serving stale contents (the
    symlink stagers were already immune; the materialized media stager
    was not)."""
    import atexit  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    key = (kind, sf_dir, _source_fingerprint(src))
    cached = _STAGED_DIRS.get(key)
    if cached is not None and os.path.isdir(cached):
        return cached
    d = tempfile.mkdtemp(prefix=prefix)
    build(d)
    if not _STAGED_ALL:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _STAGED_ALL
            ]
        )
    _STAGED_DIRS[key] = d
    _STAGED_ALL.append(d)
    return d


def fresh_tmpdir(prefix: str) -> str:
    """A fresh (never cached) temp dir that rides the shared atexit
    cleanup — for sinks that MUTATE across a stream's lifetime (e.g.
    versioned-snapshot merge targets), where reusing a cached dir
    would replay on top of a previous call's history."""
    import atexit  # noqa: PLC0415
    import shutil  # noqa: PLC0415
    import tempfile  # noqa: PLC0415

    d = tempfile.mkdtemp(prefix=prefix)
    if not _STAGED_ALL:
        atexit.register(
            lambda: [
                shutil.rmtree(p, ignore_errors=True) for p in _STAGED_ALL
            ]
        )
    _STAGED_ALL.append(d)
    return d


def clear_staged_dirs() -> None:
    """Drop (and delete) every cached staged dir — the test hook
    mirroring llm.training.clear_probe_cache."""
    import shutil  # noqa: PLC0415

    for p in _STAGED_ALL:
        shutil.rmtree(p, ignore_errors=True)
    _STAGED_ALL.clear()
    _STAGED_DIRS.clear()


def stage_embeddings_dir(sf_dir: str) -> str:
    """File-stream staging for the embeddings fixture (symlink dir)."""
    import os  # noqa: PLC0415

    def build(d: str) -> None:
        os.symlink(
            os.path.join(sf_dir, "embeddings.parquet"),
            os.path.join(d, "embeddings.parquet"),
        )

    return _staged_dir(
        "embeddings",
        sf_dir,
        "emb_stream_",
        build,
        src=os.path.join(sf_dir, "embeddings.parquet"),
    )


def read_embeddings_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding stream shaped like llm.training._probe_inputs rows."""
    from ..llm.training import LR_TARGET_LABEL  # noqa: PLC0415

    staged = stage_embeddings_dir(sf_dir)
    schema = spark.read.parquet(staged).schema
    return (
        spark.readStream.schema(schema)
        .format("parquet")
        .load(staged)
        .select(
            "vec_id",
            (F.col("label") == LR_TARGET_LABEL).cast("double").alias("y"),
            F.expr("transform(embedding, x -> cast(x AS double))").alias(
                "emb"
            ),
        )
    )


def streaming_quality_scores(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Train-offline / serve-online: fit the quality linear probe in
    batch (llm.training.train_linear_probe — Arrow partial gradients,
    O(d) driver traffic per Adam step), then score the ARRIVING
    embedding stream statelessly with the broadcast weight vector.
    This is the deployment shape of every quality filter: the model is
    refreshed by a batch job, ingestion scores each record the moment
    it lands. Scoring reuses the exact batch scorer
    (score_linear_probe), so stream and batch scores are bit-identical
    — asserted in tests/test_streaming.py."""
    from ..llm.training import (  # noqa: PLC0415
        score_linear_probe,
        train_linear_probe,
    )

    w = train_linear_probe(spark, sf_dir)
    if w is None:
        raise ValueError(
            "score_embeddings_stream: empty embeddings table — no "
            "probe weights to serve (train on a non-empty corpus)"
        )
    return score_linear_probe(read_embeddings_stream(spark, sf_dir), w)
