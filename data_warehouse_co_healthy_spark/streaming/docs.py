"""Streaming staging helpers.

The file stream source reads a DIRECTORY, while the fixtures are single
parquet files; ``staged_stream`` writes a fixture-derived split once
per fixture fingerprint (``catalog.memo``) and opens the file stream
over it, and every file-stream source in the package goes through it.
``fresh_tmpdir`` hands out the staged dirs and other never-cached dirs
on one atexit cleanup.
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..catalog import _MEMO, memo

_STAGED_ALL: list[str] = []


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

    def build() -> tuple[str, T.StructType]:
        d = fresh_tmpdir(f"{kind}_")
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
        return d, split[0].schema

    key = ("staged", kind)
    staged, schema = memo(key, sf_dir, (table,), build)
    if not os.path.isdir(staged):
        # removed behind the memo's back: stage the split again
        del _MEMO[(key, sf_dir)]
        staged, schema = memo(key, sf_dir, (table,), build)
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
    """A fresh temp dir that rides the shared atexit cleanup: each
    staged split gets one, and so does each sink that MUTATES across a
    stream's lifetime (e.g. versioned-snapshot merge targets), where
    reusing a cached dir would replay on top of a previous call's
    history."""
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
