"""Fixture catalog: load the driver's parquet tables.

Replaces the reference's per-call psycopg2 full scans
(``execute_query("SELECT * FROM t")`` with driver-side fetchall,
reference conection.py:55-63) with lazy Spark parquet scans — filters and
column pruning reach the scan (Catalyst pushdown), nothing is collected.
"""

from __future__ import annotations

import os
import stat
import weakref
from collections.abc import Callable, Hashable, Iterable, Sequence
from typing import TypeVar

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")

_V = TypeVar("_V")

#: Per-session catalog of loaded-table DataFrames, one ``memo`` store
#: per session — the table-METADATA cache every catalog-backed
#: ``spark.table()`` has and a bare-path ``read.parquet`` lacks
#: (round-11 optimization pass, guide §6 "file listing is cached per
#: session"). Each ``spark.read.parquet`` call costs ~90 ms of
#: driver time (DataSource resolution + file listing + footer schema
#: read) BEFORE any data moves; multi-table stars paid it 4× per plan
#: build. What is cached is an UNEXECUTED scan plan — every action
#: still reads the parquet bytes (the bench's cold-per-run clearCache
#: only clears data caches, which this is not). The plans are JVM
#: objects of one session, so they live here, WeakKey on the session
#: (a stopped session's plans die with it), not in ``_MEMO``.
_TABLE_CACHE: weakref.WeakKeyDictionary = weakref.WeakKeyDictionary()

#: Values derived from fixture tables: ``{(key, sf_dir): (fingerprint,
#: value)}``, filled by ``memo``.
_MEMO: dict[tuple, tuple] = {}


def fingerprint(sf_dir: str, *tables: str) -> tuple:
    """``(relpath, mtime_ns, size)`` of every file of each
    ``<table>.parquet`` under ``sf_dir`` — a single file or a directory
    of part files, walked in sorted order; a missing table adds
    nothing. Rewriting a table at the same path changes it."""
    parts: list[tuple[str, int, int]] = []
    for table in tables:
        path = os.path.join(sf_dir, f"{table}.parquet")
        try:
            st = os.stat(path)
            if not stat.S_ISDIR(st.st_mode):
                parts.append((f"{table}.parquet", st.st_mtime_ns, st.st_size))
                continue
            for root, dirs, files in os.walk(path):
                dirs.sort()
                for f in sorted(files):
                    full = os.path.join(root, f)
                    st = os.stat(full)
                    parts.append(
                        (os.path.relpath(full, sf_dir), st.st_mtime_ns,
                         st.st_size)
                    )
        except OSError:
            pass
    return tuple(parts)


def memo(
    key: Hashable,
    sf_dir: str,
    tables: Sequence[str],
    build: Callable[[], _V],
    store: dict | None = None,
) -> _V:
    """``build()``'s value for ``key`` over ``sf_dir``, built once and
    again whenever ``fingerprint(sf_dir, *tables)`` changes: a table
    rewritten at the same path never serves the old data's value. The
    new value replaces the old entry. ``None`` and empty values are
    kept like any other. Entries live in the process-level ``_MEMO``
    unless ``store`` names another dict (``load_table``'s per-session
    one)."""
    store = _MEMO if store is None else store
    fp = fingerprint(sf_dir, *tables)
    hit = store.get((key, sf_dir))
    if hit is not None and hit[0] == fp:
        return hit[1]
    value = build()
    store[(key, sf_dir)] = (fp, value)
    return value


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Load one fixture table. Schema comes from the parquet footer (already
    explicit); we deliberately do NOT force a cast here so the driver's
    DuckDB oracle sees identical types.

    Every fixture stores ``events.ts`` as parquet TIMESTAMP(MICROS), which
    Spark reads as ``TimestampNTZ``. A TIMESTAMP(NANOS) column fails the
    read with ``[PARQUET_TYPE_ILLEGAL]``.
    """
    path = os.path.join(sf_dir, f"{name}.parquet")

    def build() -> DataFrame:
        df = spark.read.parquet(path)
        # source-size hint for spread(): lets the fan-out guard decide
        # arithmetically instead of forcing a physical plan (df.rdd
        # costs ~35 ms of driver planning PER CALL — round-10
        # optimization pass; 86 call sites pay it at every plan build)
        df._sg_src_bytes = sum(s for _, _, s in fingerprint(sf_dir, name))
        return df

    return memo(
        name, sf_dir, (name,), build,
        store=_TABLE_CACHE.setdefault(spark, {}),
    )


def spread(df: DataFrame) -> DataFrame:
    """Fan a tiny scan out across all cores for CPU-bound per-row work
    (shingling, hashing, tokenizing).

    A small parquet fixture is a single row group → a single input
    split → ONE task, leaving every other core idle no matter how heavy
    the per-row compute is. On a real cluster a 100 TB table arrives as
    thousands of splits, so this round-robin repartition is skipped
    (no-op guard: only fires when the scan has fewer partitions than
    cores); it never becomes a petabyte-scale shuffle.

    INVARIANT (ADVICE r10): the ``_sg_src_bytes`` hint is an ad-hoc
    Python attribute that survives only on the frame ``load_table``
    returned — any transformation drops it. Call as
    ``spread(load_table(...))`` directly (every in-repo call site
    does); a transformed frame silently falls back to the exact
    ``df.rdd.getNumPartitions()`` path, which is correct but pays the
    ~35 ms physical-planning cost the hint exists to avoid.

    The arithmetic estimate replicates Spark's dynamic split sizing
    for a single file (``FilePartition.maxSplitBytes``: maxPartitionBytes
    capped by max(openCostInBytes, bytes/defaultParallelism)), so
    ``est`` equals the actual scan split count for every single-file
    input measured up to sf1 (SCALING_MEASURED.md): both branches fire
    exactly when the exact ``df.rdd`` partition count would.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    src_bytes = getattr(df, "_sg_src_bytes", None)
    if src_bytes is not None:
        # Arithmetic split estimate off the load_table size hint —
        # same decision as counting scan partitions without the
        # ~35 ms physical-planning cost of df.rdd per plan build
        # (round-10 optimization pass). Round 11 (ADVICE r10 item 1):
        # the estimate now replicates Spark's DYNAMIC split sizing for
        # a single file — maxSplitBytes = min(maxPartitionBytes,
        # max(openCostInBytes, (size + openCost) / defaultParallelism))
        # (FilePartition.maxSplitBytes) — instead of the static
        # ceil(size / maxPartitionBytes) lower bound, which undercounted
        # splits for files in the 128 MB–4 GB band (bytesPerCore < 128 MB
        # shrinks the split) and fired a redundant full-shuffle
        # repartition on input Spark had already fanned out; verified
        # against df.rdd.getNumPartitions() at 50 MB/300 MB/tiny in
        # SCALING_MEASURED.md. Falls back to the exact partition count
        # for frames without the hint or unit-suffixed conf values.
        def _conf_bytes(key: str, default: str) -> int | None:
            try:
                return int(df.sparkSession.conf.get(key, default))
            except (ValueError, TypeError):
                return None  # unit-suffixed ("128MB"): use exact path
            except Exception:  # noqa: BLE001 - heuristic, never fatal
                return None

        max_split = _conf_bytes(
            "spark.sql.files.maxPartitionBytes", "134217728"
        )
        open_cost = _conf_bytes(
            "spark.sql.files.openCostInBytes", "4194304"
        )
        if max_split and max_split > 0 and open_cost is not None:
            bytes_per_core = (src_bytes + open_cost) // max(1, target)
            split = min(max_split, max(open_cost, bytes_per_core))
            est = max(1, -(-src_bytes // max(1, split)))
            return df.repartition(target) if est < target else df
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


#: Spark types whose Python values Arrow converts exactly as the
#: row-by-row ``createDataFrame`` path does. ``TimestampType`` is left
#: out on purpose: Arrow reads a naive ``datetime`` as UTC, the row path
#: as the driver's local time.
_ARROW_EXACT = (
    T.BooleanType, T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.StringType, T.BinaryType, T.DateType,
    T.DecimalType,
)


def _check_arrow_exact(name: str, dt: T.DataType) -> None:
    if isinstance(dt, T.ArrayType):
        _check_arrow_exact(name, dt.elementType)
    elif not isinstance(dt, _ARROW_EXACT):
        raise TypeError(
            f"local_frame: column {name!r} has type {dt.simpleString()}, "
            "which it does not convert"
        )


def local_frame(
    spark: SparkSession,
    rows: Iterable[Sequence],
    schema: str | T.StructType,
) -> DataFrame:
    """A DataFrame from driver-side ``rows`` (tuples in ``schema``'s
    column order; ``schema`` a DDL string or a ``StructType``).

    The rows travel as one Arrow table and plan as a
    ``LocalTableScan``. ``createDataFrame(list, ddl)`` would instead
    pickle them into a Python RDD whose scan is a 4-task stage waiting
    on Python-worker start-up, for a handful of rows. NaN stays NaN and
    None stays null. A column type outside ``_ARROW_EXACT`` (or arrays
    of those) raises ``TypeError``; a row of the wrong width raises
    ``ValueError``.
    """
    import pyarrow as pa  # noqa: PLC0415
    from pyspark.sql.pandas.types import to_arrow_schema  # noqa: PLC0415

    struct = (
        schema if isinstance(schema, T.StructType)
        else T.StructType.fromDDL(schema)
    )
    for f in struct.fields:
        _check_arrow_exact(f.name, f.dataType)
    rows = list(rows)
    width = len(struct.fields)
    for r in rows:
        if len(r) != width:
            raise ValueError(
                f"local_frame: row {r!r} has {len(r)} fields, "
                f"schema has {width}"
            )
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*rows)) if rows else [()] * width
    table = pa.Table.from_arrays(
        [
            pa.array(col, type=f.type)
            for col, f in zip(columns, arrow_schema)
        ],
        schema=arrow_schema,
    )
    return spark.createDataFrame(table, struct)
