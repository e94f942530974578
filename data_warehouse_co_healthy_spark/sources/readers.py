"""Source connectors (SURVEY §2.1, S1-S6).

The reference extracts by driver-side psycopg2 fetchall + inferred
createDataFrame (S1/S2, reference conection.py:55-63, 18 ingest sites),
pandas read_excel (S4, dimension.py:62-64) and a Socrata REST client
(S5, dimension.py:123-130). Here every connector returns a LAZY Spark
DataFrame with an explicit schema; nothing materializes on the driver
except genuinely driver-side payloads (REST pages, spreadsheet files),
which are bounded by contract (dims ≤ ~1200 rows in the reference).

Scale posture: parquet and JDBC reads are distributed scans with
predicate/column pushdown. JDBC reads accept partitioning options so a
big table scan fans out across executors instead of one connection
(the reference read the whole table through one cursor)."""

from __future__ import annotations

from collections.abc import Callable, Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from ..catalog import local_frame


def read_parquet(
    spark: SparkSession, path: str, schema: T.StructType | None = None
) -> DataFrame:
    """S1-analog primary scan. Schema optional: parquet footers are
    already explicit."""
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    return reader.parquet(path)


def read_binary_files(
    spark: SparkSession,
    path: str,
    glob: str | None = None,
    recursive: bool = True,
) -> DataFrame:
    """Raw-media ingest via the ``binaryFile`` source: one row per file
    with (path, modificationTime, length, content BINARY) — the
    distributed on-ramp that turns a directory of images/audio/video
    into the opaque-binary multimodal column the llm.multimodal
    operators consume. File listing and reads are executor-side (no
    driver loop over files), so a 100 TB media lake ingests at cluster
    parallelism; ``pathGlobFilter`` prunes non-matching files BEFORE
    any bytes are read. Pair with
    ``spark.sql.files.maxPartitionBytes`` so many small media files
    coalesce into sane tasks."""
    r = (
        spark.read.format("binaryFile")
        .option("recursiveFileLookup", str(recursive).lower())
    )
    if glob is not None:
        r = r.option("pathGlobFilter", glob)
    return r.load(path)


def read_jdbc(
    spark: SparkSession,
    url: str,
    table: str,
    properties: dict[str, str] | None = None,
    partition_column: str | None = None,
    lower_bound: int | None = None,
    upper_bound: int | None = None,
    num_partitions: int | None = None,
) -> DataFrame:
    """S3-analog JDBC read (reference medical_formula_process.py:71-97
    et al.), with optional partitioned fan-out — the piece the
    reference's single-cursor scan lacks for large tables."""
    reader = (
        spark.read.format("jdbc").option("url", url).option("dbtable", table)
    )
    for k, v in (properties or {}).items():
        reader = reader.option(k, v)
    if partition_column is not None:
        reader = (
            reader.option("partitionColumn", partition_column)
            .option("lowerBound", str(lower_bound))
            .option("upperBound", str(upper_bound))
            .option("numPartitions", str(num_partitions or 8))
        )
    return reader.load()


def read_excel_catalog(
    spark: SparkSession,
    path: str,
    schema: T.StructType,
) -> DataFrame:
    """S4-analog spreadsheet catalog (reference dimension.py:62-64 reads
    medicamentos.xls via pandas). Spreadsheets are driver-side by nature
    (no splittable format); the result is immediately a Spark DF with an
    explicit schema. Prefers pandas' engine when one is installed;
    otherwise falls back to the vendored minimal BIFF8 reader
    (sources/xls.py), so the REAL .xls catalog parses in engine-less
    environments too — closing SURVEY §2.1 S4."""
    try:
        import pandas as pd  # noqa: PLC0415

        pdf = pd.read_excel(path)
        return spark.createDataFrame(pdf, schema=schema)
    except ImportError:  # no xlrd/openpyxl — env-dependent
        from .xls import read_xls_rows  # noqa: PLC0415

        header, rows = read_xls_rows(path)
        expected = [f.name for f in schema.fields]
        if header != expected:
            raise ValueError(
                f"catalog columns {header} != schema {expected}"
            ) from None

        def coerce(v: object, dt: T.DataType) -> object:
            # spreadsheet cells are (str | float); land them on the
            # DECLARED schema — integral floats destined for string
            # keys become canonical digit strings ("1012", not
            # "1012.0"), matching the reference's int-inferred codes
            if v is None:
                return None
            if isinstance(dt, T.StringType):
                if isinstance(v, float) and v.is_integer():
                    return str(int(v))
                return str(v)
            if isinstance(dt, (T.DoubleType, T.FloatType)):
                return float(v)
            if isinstance(dt, (T.LongType, T.IntegerType)):
                return int(v)
            return v

        typed = [
            [coerce(v, f.dataType) for v, f in zip(row, schema.fields)]
            for row in rows
        ]
        return local_frame(spark, typed, schema)


def read_rest_json(
    spark: SparkSession,
    fetch: Callable[[], Iterable[dict]],
    schema: T.StructType,
    limit: int | None = None,
) -> DataFrame:
    """S5-analog open-data/REST source (reference dimension.py:123-130,
    Socrata ``get(dataset, limit=1200)``). ``fetch`` is injected so the
    connector is testable offline; rows land with an explicit schema
    instead of dict-sampling inference."""
    rows = list(fetch())
    if limit is not None:
        rows = rows[:limit]
    names = [f.name for f in schema.fields]
    data = [tuple(r.get(n) for n in names) for r in rows]
    return local_frame(spark, data, schema)
