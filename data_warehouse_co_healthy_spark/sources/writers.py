"""Sink connectors (SURVEY §2.2, K1-K4).

The reference loads through the driver: ``toPandas()`` before every
sink (K4 anti-pattern, e.g. medical_formula_process.py:125), REST bulk
POST (K1, conection.py:81-101), SQLAlchemy ``to_sql`` (K2,
conection.py:69-78), plus one distributed CSV write (K3,
medical_formula_process.py:122). Here every sink is DISTRIBUTED:
partitioned parquet/CSV writes, JDBC append, and a foreachPartition
REST poster — the driver never materializes a fact table.
"""

from __future__ import annotations

import json
from collections.abc import Callable

from pyspark.sql import DataFrame


def write_parquet(
    df: DataFrame,
    path: str,
    partition_by: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Primary fact sink: partitioned parquet. Partitioning by the date
    key gives static + dynamic partition pruning on every date-scoped
    query downstream (SURVEY §4)."""
    writer = df.write.mode(mode)
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.parquet(path)


def overwrite_partitions_dynamic(df: DataFrame, path: str) -> None:
    """Idempotent partition backfill: overwrite ONLY the partitions
    present in ``df``, leaving every other partition untouched
    (``partitionOverwriteMode=dynamic``). This is how a failed or
    corrected day is re-run against a 100 TB date-partitioned fact
    without rewriting — or worse, truncating — the rest of the table.
    The partition column set must match the table's existing layout.
    """
    spark = df.sparkSession
    existing = spark.read.parquet(path)
    part_cols = [c for c in existing.columns if c not in df.columns]
    if part_cols:
        raise ValueError(
            f"df is missing partition columns {part_cols} of {path}"
        )
    df.write.mode("overwrite").option(
        "partitionOverwriteMode", "dynamic"
    ).partitionBy(*_partition_cols_of(spark, path)).parquet(path)


def _partition_cols_of(spark, path: str) -> list[str]:
    """Partition columns of an existing parquet table, read from the
    directory layout (hive-style key=value dirs) via the Hadoop
    FileSystem API — scheme-resolved, so the same walk works on local
    FS, HDFS, and S3A (O(depth) metadata listings, no data reads)."""
    from . import hadoopfs  # noqa: PLC0415

    cols = []
    cur = path
    while True:
        subdirs = sorted(
            d
            for d in hadoopfs.list_children(spark, cur, dirs_only=True)
            if "=" in d
        )
        if not subdirs:
            return cols
        cols.append(subdirs[0].split("=", 1)[0])
        cur = f"{cur.rstrip('/')}/{subdirs[0]}"


def write_bucketed(
    df: DataFrame,
    table: str,
    bucket_cols: tuple[str, ...],
    n_buckets: int = 32,
    sort_cols: tuple[str, ...] = (),
    mode: str = "overwrite",
) -> None:
    """Bucketed managed-table write: the co-located-join primitive.

    Two tables bucketed by the same key into the same bucket count join
    WITHOUT a shuffle — at 100 TB that removes the dominant exchange of
    every fact⋈fact join (e.g. lineitem⋈orders on orderkey). sortBy
    within buckets additionally removes the sort of a sort-merge join.
    (tests/test_sources.py asserts the bucketed join plan is
    exchange-free.)"""
    writer = df.write.mode(mode).bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        writer = writer.sortBy(*sort_cols)
    writer.format("parquet").saveAsTable(table)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    """K3-parity CSV directory write (reference
    medical_formula_process.py:122 — header, overwrite)."""
    df.write.csv(path, header=True, mode=mode)


def write_jdbc(
    df: DataFrame,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    mode: str = "append",
) -> None:
    """K2-analog warehouse table write (replaces SQLAlchemy
    ``to_sql(if_exists='append')``, reference conection.py:69-78) —
    executor-side batch inserts, not a driver pandas roundtrip."""
    writer = (
        df.write.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        writer = writer.option(k, v)
    writer.mode(mode).save()


def write_versioned(df: DataFrame, path: str) -> int:
    """Append-only snapshot versioning on plain parquet: each call
    writes a new ``version=N`` directory and never mutates previous
    ones, so historical reads stay consistent while writers proceed —
    the minimal time-travel contract (swap in Delta/Iceberg for
    transactional metadata; the layout and read API stay the same).
    Returns the new version number. Version discovery goes through the
    Hadoop FileSystem API, so the layout works on HDFS/S3A exactly as
    on local FS; ``errorifexists`` keeps two racing writers from
    silently clobbering the same version number."""
    from . import hadoopfs  # noqa: PLC0415

    existing = hadoopfs.versions_in(df.sparkSession, path)
    version = (existing[-1] if existing else 0) + 1
    df.write.mode("errorifexists").parquet(
        f"{path.rstrip('/')}/version={version}"
    )
    return version


def vacuum_versions(
    path: str, keep_last: int = 2, spark=None
) -> list[int]:
    """Retention for the versioned-snapshot layout: delete all but the
    newest ``keep_last`` ``version=N`` directories (the VACUUM step that
    keeps time travel from growing unboundedly). Returns the versions
    removed. Readers of retained versions are unaffected — old dirs are
    immutable until the moment they are dropped, so set retention to
    cover the longest-running query (same contract as Delta VACUUM).

    Listing and deletion go through the Hadoop FileSystem API
    (scheme-resolved), so retention runs against HDFS/S3A with the
    identical code path the tests exercise on local FS. ``spark``
    defaults to the active session.

    Interplay with atomic commits: when the layout carries commit
    markers, retention counts COMMITTED snapshots only — otherwise an
    uncommitted orphan from a dead writer would occupy a keep_last
    slot and the last good snapshot could be dropped while a torn,
    never-readable one survives. Orphans are left for
    ``vacuum_uncommitted`` (they may be a write in progress). The
    bare-directory fallback applies ONLY to layouts with no commit
    markers at all (written by ``write_versioned``): on a marker-using
    layout whose markers are all dangling (e.g. the only snapshots are
    uncommitted — a first writer mid-write or dead pre-marker),
    retention removes nothing rather than deleting a possibly
    in-progress write."""
    from . import hadoopfs  # noqa: PLC0415

    if keep_last < 1:
        raise ValueError("keep_last must be >= 1")
    committed = committed_versions(spark, path)
    if committed:
        versions = committed
    elif _marker_versions(spark, path):
        return []  # marker layout, nothing committed: all orphans
    else:
        versions = hadoopfs.versions_in(spark, path)
    drop = versions[:-keep_last]
    for v in drop:
        hadoopfs.delete(spark, f"{path.rstrip('/')}/version={v}")
        # retire the commit marker with its snapshot (no-op when the
        # layout never used atomic commits)
        hadoopfs.delete(spark, _marker(path, v))
    return drop


def delete_keys_partitioned(spark, path: str, keys_df, key_col: str) -> int:
    """Targeted delete (GDPR "right to erasure" shape) on a
    partitioned parquet table: remove every row whose ``key_col`` is
    in ``keys_df``, rewriting ONLY the partitions that contain a hit.

    At 100 TB the naive anti-join-and-rewrite rewrites the whole
    table; here the delete set (small by nature — it's an erasure
    request, broadcast twice) first identifies the affected partition
    values, then (1) partitions left EMPTY by the delete are dropped
    via the Hadoop FileSystem API and (2) the surviving affected
    partitions are rewritten through dynamic partition overwrite —
    untouched partitions keep their files byte-identical (test-pinned
    via directory mtimes). Returns the number of rows deleted.

    Plain parquet gives no snapshot isolation across the two steps;
    for concurrent readers layer this on the versioned layout (write
    the cleaned table as a new committed snapshot) — the dataflow is
    identical."""
    from pyspark.sql import functions as F  # noqa: PLC0415

    from . import hadoopfs  # noqa: PLC0415

    part_cols = _partition_cols_of(spark, path)
    if not part_cols:
        raise ValueError(
            f"{path} is not hive-partitioned; use an anti-join rewrite"
        )
    tbl = spark.read.parquet(path)
    keys = keys_df.select(key_col).distinct()
    # partition values with at least one key hit (partition-grain
    # frame — small by construction, one row per affected partition)
    hit_parts_df = (
        tbl.join(F.broadcast(keys), key_col, "left_semi")
        .select(*part_cols)
        .distinct()
        .localCheckpoint()
    )
    # Collect partition values THROUGH SPARK'S OWN CAST TO STRING —
    # directory names are produced by the writer from exactly this
    # cast (PartitioningUtils.partitionPathExpression), so the engine
    # rendering ('true', not Python's 'True'; session-zone timestamp
    # text, not datetime.__str__) is the only one that round-trips for
    # non-string partition types. NULL survives the cast as NULL and
    # maps to the Hive default-partition name below.
    def _as_path_strings(df):
        return df.select(
            *[F.col(c).cast("string").alias(c) for c in part_cols]
        ).distinct()

    hit_parts = _as_path_strings(hit_parts_df).collect()
    if not hit_parts:
        return 0
    # restrict to affected partitions via a broadcast semi-join ON THE
    # PARTITION COLUMNS: dynamic partition pruning cuts the fact scan
    # to the hit partitions at runtime, and unlike an OR-chain of
    # literals the plan stays constant-size however many partitions an
    # erasure request touches. NULL-SAFE equality (<=>), because a
    # NULL partition value (the Hive default partition) never matches
    # a plain equi-join — its rows would silently escape the rewrite
    # while the directory drop below still removed them from disk.
    cond = None
    for c in part_cols:
        eq = tbl[c].eqNullSafe(hit_parts_df[c])
        cond = eq if cond is None else (cond & eq)
    affected = tbl.join(F.broadcast(hit_parts_df), cond, "left_semi")
    n_before = affected.count()
    # MATERIALIZE the survivors before mutating any directory: the
    # rewrite must not re-read files this function is about to delete
    # or overwrite (localCheckpoint here; on a cluster use
    # ``checkpoint()`` to durable storage — same contract)
    cleaned = affected.join(
        F.broadcast(keys), key_col, "left_anti"
    ).localCheckpoint()
    n_after = cleaned.count()
    # partitions wiped entirely: dynamic overwrite writes nothing for
    # them, so they must be dropped explicitly. Directory names come
    # from Spark's OWN partition-path escaping (special chars are
    # percent-encoded, NULL becomes the Hive default-partition name) —
    # hand-built f"{col}={value}" paths silently miss escaped dirs,
    # and a missed dir means the "erased" rows stay readable, so a
    # construction mismatch raises instead of returning success.
    esc = spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
    survivors = {
        tuple(r[c] for c in part_cols)
        for r in _as_path_strings(cleaned.select(*part_cols)).collect()
    }
    for r in hit_parts:
        key = tuple(r[c] for c in part_cols)
        if key not in survivors:
            sub = "/".join(
                esc.getPartitionPathString(
                    c, "" if r[c] is None else r[c]
                )
                for c in part_cols
            )
            target = f"{path.rstrip('/')}/{sub}"
            if not hadoopfs.exists(spark, target):
                raise RuntimeError(
                    f"erasure: expected partition dir missing: {target}"
                )
            hadoopfs.delete(spark, target)
    if n_after > 0:
        overwrite_partitions_dynamic(cleaned, path)
    return n_before - n_after


def _marker(path: str, version: int) -> str:
    return f"{path.rstrip('/')}/_committed_v{version}"


def write_versioned_committed(df: DataFrame, path: str) -> int:
    """Versioned snapshot write with an ATOMIC commit: the data dir is
    written first, then a zero-byte ``_committed_vN`` marker makes the
    snapshot visible. A writer that dies mid-write leaves an orphan
    ``version=N`` directory that committed readers never see — no
    torn snapshot can be observed. Marker creation is a single file
    CREATE (atomic on HDFS, a single PUT on S3A), which is exactly why
    the commit is a marker and not a directory rename (S3 renames are
    copy+delete, not atomic). This is the same contract Spark's own
    ``_SUCCESS`` files and table-format commit logs provide."""
    version = write_versioned(df, path)
    from . import hadoopfs  # noqa: PLC0415

    hadoopfs.touch(df.sparkSession, _marker(path, version))
    return version


def _marker_versions(spark, path: str) -> list[int]:
    """Versions with a ``_committed_vN`` marker file, whether or not
    the matching snapshot directory still exists. Non-empty means the
    layout uses atomic commits. Foreign files that merely share the
    marker prefix are ignored, never a crash."""
    from . import hadoopfs  # noqa: PLC0415

    out = []
    for name in hadoopfs.list_children(spark, path):
        suffix = name[len("_committed_v"):]
        if name.startswith("_committed_v") and suffix.isdigit():
            out.append(int(suffix))
    return sorted(out)


def committed_versions(spark, path: str) -> list[int]:
    """Snapshot numbers whose commit marker AND data directory both
    exist (sorted)."""
    from . import hadoopfs  # noqa: PLC0415

    present = set(hadoopfs.versions_in(spark, path))
    return [v for v in _marker_versions(spark, path) if v in present]


def read_committed(spark, path: str, version: int | None = None):
    """Read the latest COMMITTED snapshot (or a specific committed
    one): uncommitted / torn writes are invisible."""
    committed = committed_versions(spark, path)
    if version is None:
        if not committed:
            raise FileNotFoundError(
                f"no committed snapshots under {path}"
            )
        version = committed[-1]
    elif version not in committed:
        raise FileNotFoundError(
            f"version {version} is not committed under {path}"
        )
    return spark.read.parquet(f"{path.rstrip('/')}/version={version}")


def vacuum_uncommitted(path: str, spark=None) -> list[int]:
    """Drop orphan snapshot dirs a dead writer left behind (present as
    ``version=N`` but never committed). Run it with the same retention
    cadence as ``vacuum_versions``; the CURRENTLY-writing snapshot is
    also uncommitted, so schedule this with a grace period or after
    writer quiescence (same operational rule as Delta VACUUM's
    retention window)."""
    from . import hadoopfs  # noqa: PLC0415

    committed = set(committed_versions(spark, path))
    orphans = [
        v
        for v in hadoopfs.versions_in(spark, path)
        if v not in committed
    ]
    for v in orphans:
        hadoopfs.delete(spark, f"{path.rstrip('/')}/version={v}")
    return orphans


def read_version(spark, path: str, version: int | None = None):
    """Read one snapshot (default: latest, discovered via the Hadoop
    FileSystem API)."""
    from . import hadoopfs  # noqa: PLC0415

    if version is None:
        versions = hadoopfs.versions_in(spark, path)
        if not versions:
            raise FileNotFoundError(f"no version=N snapshots under {path}")
        version = versions[-1]
    return spark.read.parquet(f"{path.rstrip('/')}/version={version}")


def compact_parquet(
    spark,
    path: str,
    target_files: int,
    sort_cols: tuple[str, ...] = (),
) -> int:
    """Small-files compaction: rewrite a parquet dataset into
    ``target_files`` files, optionally sort-clustered so min/max
    row-group stats make range filters skip data (poor man's Z-order
    on one dimension). The everyday maintenance job that keeps a
    100 TB table scannable after streaming/incremental ingest; returns
    the new file count.

    The write-to-temp → double-rename → drop-old swap goes through the
    Hadoop FileSystem API: atomic on HDFS; on S3A rename is copy+delete,
    so there layer a manifest/catalog commit (a table format) for
    strict atomicity — the dataflow here is unchanged."""
    from . import hadoopfs  # noqa: PLC0415

    df = spark.read.parquet(path)
    if sort_cols:
        out = df.repartitionByRange(target_files, *sort_cols)
    else:
        out = df.repartition(target_files)
    tmp = path.rstrip("/") + "__compacting"
    out.write.mode("overwrite").parquet(tmp)
    swap = path.rstrip("/") + "__old"
    hadoopfs.rename(spark, path, swap)
    hadoopfs.rename(spark, tmp, path)
    hadoopfs.delete(spark, swap)
    # file-level Bloom sidecars key on the file names this rewrite
    # just invalidated — drop them so a stale index cannot outlive
    # the compaction (bloom_prune_files also detects drift at probe
    # time; this makes the maintenance job self-contained)
    import os  # noqa: PLC0415

    parent = os.path.dirname(path.rstrip("/"))
    base = os.path.basename(path.rstrip("/"))
    for name in hadoopfs.list_children(spark, parent or "."):
        if name.startswith(f"{base}__bloom_"):
            hadoopfs.delete(spark, f"{parent}/{name}" if parent else name)
    return sum(
        1
        for name in hadoopfs.list_children(spark, path)
        if name.endswith(".parquet")
    )


def rest_bulk_insert(
    df: DataFrame,
    table: str,
    post: Callable[[str, str], None],
    batch_size: int = 500,
) -> None:
    """K1-analog REST loader (reference ``insert_data``
    conection.py:81-101 POSTs one driver-side JSON body). Here each
    PARTITION posts its own batches via the injected ``post(table,
    json_body)`` — distributed, bounded memory, testable offline."""
    cols = df.columns

    def send_partition(rows) -> None:
        batch: list[dict] = []
        for row in rows:
            batch.append(dict(zip(cols, row)))
            if len(batch) >= batch_size:
                post(table, json.dumps(batch, default=str))
                batch = []
        if batch:
            post(table, json.dumps(batch, default=str))

    df.foreachPartition(send_partition)
