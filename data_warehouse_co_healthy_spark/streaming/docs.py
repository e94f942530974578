"""Streaming staging helpers.

The file stream source reads a DIRECTORY, while the fixtures are single
parquet files; ``staged_stream`` writes a fixture-derived split once
per process into a ``_staged_dir`` (keyed on the fixture's
fingerprint) and opens the file stream over it, and every file-stream
source in the package goes through it. ``fresh_tmpdir`` hands out
never-cached dirs on the same atexit cleanup.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

_STAGED_DIRS: dict[tuple, str] = {}
_STAGED_ALL: list[str] = []
#: Schema of each staged stream dir, recorded when it is written, so a
#: cache hit opens the stream without a parquet footer read.
_STAGED_SCHEMAS: dict[str, T.StructType] = {}


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
    within a process rebuilds rather than serving stale contents."""
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


def staged_stream(
    spark: SparkSession,
    kind: str,
    sf_dir: str,
    table: str,
    frames: Callable[[], list[DataFrame]],
    files_per_trigger: int = 1,
) -> DataFrame:
    """File-source stream over a staged split of fixture ``table``.

    On a cache miss ``frames()`` returns the split as a list of
    DataFrames; each is written in turn, and every part file it yields
    becomes ``part-NNNNN.parquet`` in (frame, name) order with mtimes
    1 s apart. FileStreamSource takes files oldest-mtime-first, so the
    split order is the arrival order, never a same-second tie. On a
    cache hit ``frames`` is not called: no Spark job, no footer read.
    The stream reads ``files_per_trigger`` files per micro-batch, and a
    ``TimestampNTZ`` ``ts`` is cast to ``timestamp`` because watermarks
    require it (the session tz is pinned UTC, so the wall-clock value
    is kept)."""
    import glob  # noqa: PLC0415
    import os  # noqa: PLC0415
    import shutil  # noqa: PLC0415

    def build(d: str) -> None:
        t0 = 1_600_000_000
        n = 0
        split = frames()
        for i, df in enumerate(split):
            sub = os.path.join(d, f"stage_{i}")
            df.write.parquet(sub)
            for f in sorted(glob.glob(os.path.join(sub, "part-*.parquet"))):
                dst = os.path.join(d, f"part-{n:05d}.parquet")
                os.replace(f, dst)
                os.utime(dst, (t0 + n, t0 + n))
                n += 1
            shutil.rmtree(sub)
        _STAGED_SCHEMAS[d] = split[0].schema

    staged = _staged_dir(
        kind,
        sf_dir,
        f"{kind}_",
        build,
        src=os.path.join(sf_dir, f"{table}.parquet"),
    )
    schema = _STAGED_SCHEMAS[staged]
    raw = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", files_per_trigger)
        .format("parquet")
        .load(staged)
    )
    if "ts" in schema.names and isinstance(
        schema["ts"].dataType, T.TimestampNTZType
    ):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


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
    _STAGED_SCHEMAS.clear()
