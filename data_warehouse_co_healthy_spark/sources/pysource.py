"""Spark 4 Python DataSource: the open-data (Socrata-style) source as a
first-class, PARTITIONED Spark source.

The reference pulls its region dataset on the driver —
``Socrata(domain, None).get("xdk5-pm3f", limit=1200)`` then
``createDataFrame`` (reference dimension.py:121-133) — so the whole
dataset must fit in driver memory and the fetch is single-threaded.
``read_rest_json`` (readers.py) keeps that shape with injected fetch;
THIS module is the scale path: the Data Source V2 Python API
(``pyspark.sql.datasource``) declares the schema up front and fans the
paged fetch across EXECUTORS — each input partition fetches one page
(offset/limit), so a 10⁹-row open dataset streams in parallel and never
transits the driver.

The HTTP GET itself is stubbed with a deterministic in-process page
generator (no network in this container); the Spark-side plumbing —
registration, schema, partition planning, per-partition iterators —
is real and test-pinned (tests/test_sources.py).
"""

from __future__ import annotations

from pyspark.sql.datasource import DataSource, DataSourceReader, InputPartition

_DEPARTMENTS = 32
_REGIONS = (
    "Andina",
    "Caribe",
    "Pacifica",
    "Orinoquia",
    "Amazonia",
)


def fetch_page(offset: int, limit: int) -> list[dict]:
    """Deterministic stand-in for ``GET /resource/xdk5-pm3f.json
    ?$offset=..&$limit=..`` — replace the body with an HTTP call in
    production; the reader contract does not change."""
    rows = []
    for i in range(offset, offset + limit):
        rows.append(
            {
                "municipio": f"municipio_{i:05d}",
                "departamento": f"departamento_{i % _DEPARTMENTS:02d}",
                "region": _REGIONS[i % len(_REGIONS)],
            }
        )
    return rows


class _PagePartition(InputPartition):
    def __init__(self, offset: int, limit: int):
        self.offset = offset
        self.limit = limit


class OpenDataReader(DataSourceReader):
    def __init__(self, options):
        self.total = int(options.get("limit", 1200))
        self.page_size = int(options.get("page_size", 100))

    def partitions(self):
        return [
            _PagePartition(off, min(self.page_size, self.total - off))
            for off in range(0, self.total, self.page_size)
        ]

    def read(self, partition: _PagePartition):
        # Runs ON THE EXECUTOR: one page per task.
        for r in fetch_page(partition.offset, partition.limit):
            yield (r["municipio"], r["departamento"], r["region"])


try:  # Spark >= 4: streaming side of the Python DataSource API
    from pyspark.sql.datasource import SimpleDataSourceStreamReader

    class OpenDataStreamReader(SimpleDataSourceStreamReader):
        """Micro-batch streaming over the same paged endpoint: the
        stream OFFSET is the page offset, so each trigger ingests one
        page and checkpoint recovery replays exact offset ranges
        (``readBetweenOffsets``) — the pattern for incrementally
        tailing any append-only REST/queue source without Kafka."""

        def __init__(self, options):
            self.total = int(options.get("limit", 1200))
            self.page_size = int(options.get("page_size", 100))

        def initialOffset(self):
            return {"offset": 0}

        def _rows(self, start: int, end: int):
            return [
                (r["municipio"], r["departamento"], r["region"])
                for r in fetch_page(start, end - start)
            ]

        def read(self, start):
            off = start["offset"]
            if off >= self.total:  # caught up: no progress this trigger
                return iter([]), start
            end = min(off + self.page_size, self.total)
            return iter(self._rows(off, end)), {"offset": end}

        def readBetweenOffsets(self, start, end):
            return iter(self._rows(start["offset"], end["offset"]))

    _HAVE_STREAM = True
except ImportError:  # pragma: no cover - older Spark
    _HAVE_STREAM = False


class OpenDataSource(DataSource):
    """``spark.read.format("opendata").option("limit", N).load()`` —
    and ``spark.readStream.format("opendata")...`` for the incremental
    tail of the same dataset."""

    @classmethod
    def name(cls):
        return "opendata"

    def schema(self):
        return "municipio string, departamento string, region string"

    def reader(self, schema):
        return OpenDataReader(self.options)

    def simpleStreamReader(self, schema):
        if not _HAVE_STREAM:  # pragma: no cover - older Spark
            raise NotImplementedError("streaming needs Spark >= 4")
        return OpenDataStreamReader(self.options)


def register(spark) -> None:
    """Idempotent registration of the custom source."""
    spark.dataSource.register(OpenDataSource)


# ---------------------------------------------------------------------------
# Paged parquet source: fixture pages through the Python DataSource.
# ---------------------------------------------------------------------------


class _RowRangePartition(InputPartition):
    """One page = a [start, end) row slice of ONE parquet row group —
    pages never span groups, so an executor task touches exactly one
    I/O unit."""

    def __init__(self, row_group: int, start: int, end: int):
        self.row_group = row_group
        self.start = start
        self.end = end


class ParquetPagesReader(DataSourceReader):
    """Executor-parallel paged reads of a parquet FILE through the
    Python DataSource API — the generic template for any source whose
    endpoint serves bounded pages (REST offset/limit, scan cursors,
    object-store byte ranges). Plan time (driver) touches only file
    METADATA: row-group sizes from the parquet footer, O(row groups)
    work. Each input partition then reads its single row group ON THE
    EXECUTOR with pyarrow and yields Arrow RecordBatch slices — the
    vectorized DataSource path, no per-row Python tuples. Parallelism
    = one task per page; I/O unit = row group, so a page costs one
    group read even when page_size < group size (at scale you size
    pages to groups; the slicing keeps semantics exact either way)."""

    def __init__(self, options):
        self.path = options.get("path")
        if not self.path:
            raise ValueError("parquetpages source requires option 'path'")
        raw = options.get("page_size", "auto")
        # "auto" = production posture: one page per row group, sized
        # from the footer — the page IS the I/O unit, so a task never
        # re-reads a group it only needed a slice of. An integer
        # page_size remains the explicit knob (undersizing it is the
        # fan-out stress test pysource_paged_docs pins).
        self.page_size = None if raw == "auto" else int(raw)
        self._filters: list = []

    def partitions(self):
        import pyarrow.parquet as pq  # noqa: PLC0415

        md = pq.ParquetFile(self.path).metadata
        parts = []
        for g in range(md.num_row_groups):
            rg = md.row_group(g)
            if self._filters:
                stats_by_col: dict = {}
                for ci in range(rg.num_columns):
                    col = rg.column(ci)
                    st = col.statistics
                    if st is not None:
                        stats_by_col[col.path_in_schema] = {
                            "has_min_max": st.has_min_max,
                            "min": st.min,
                            "max": st.max,
                        }
                if not all(
                    self._group_can_match(stats_by_col, f)
                    for f in self._filters
                ):
                    continue  # provably no matching row: never planned
            n = rg.num_rows
            # max(n,1) so a zero-row group (empty warehouse, pruned
            # partition) can't make range()'s step 0 under "auto"
            step = max(n, 1) if self.page_size is None else self.page_size
            for off in range(0, n, step):
                parts.append(
                    _RowRangePartition(g, off, min(off + step, n))
                )
        # a zero-row file (pruned partition, first load) must still
        # return ONE partition: an empty list makes Spark call
        # read(None) — observed, not hypothetical
        return parts or [_RowRangePartition(0, 0, 0)]

    def read(self, partition: _RowRangePartition):
        # Runs ON THE EXECUTOR: one row-group read, sliced to the page.
        import pyarrow.parquet as pq  # noqa: PLC0415

        if partition is None or partition.end == partition.start:
            return  # zero-row page: nothing to yield
        table = pq.ParquetFile(self.path).read_row_group(
            partition.row_group
        )
        page = table.slice(
            partition.start, partition.end - partition.start
        )
        yield from page.to_batches()


class PruningParquetPagesReader(ParquetPagesReader):
    """``ParquetPagesReader`` + Spark-4.1 filter pushdown: ZONE-MAP
    row-group pruning from footer statistics. Opt-in via
    ``.option("pushdown", "true")`` and
    ``spark.sql.python.filterPushdown.enabled=true`` — it must be a
    SEPARATE class because Spark hard-fails ANY reader that merely
    implements ``pushFilters`` when that conf is off (the vanilla
    driver session's default), so the default reader must not carry
    the method at all."""

    def pushFilters(self, filters):
        """Keep single-column comparison filters for zone-map pruning
        in ``partitions()`` and return ALL filters as unhandled —
        pruning is advisory (a group whose footer min/max proves no
        row can match is never planned) and Spark re-applies every
        predicate post-scan, so semantics stay exact even when stats
        are missing or a group survives conservatively. Exactly how
        engine-native parquet zone maps behave, expressed through the
        Python DataSource API."""
        kept = []
        for f in filters:
            kept.append(f)
            attr = getattr(f, "attribute", None)
            if attr is not None and len(attr) == 1:
                self._filters.append(f)
        return iter(kept)

    @staticmethod
    def _group_can_match(stats_by_col: dict, f) -> bool:
        """Conservative zone-map test: False ONLY when the row-group
        footer stats PROVE no row satisfies the filter."""
        from pyspark.sql import datasource as dsf  # noqa: PLC0415

        st = stats_by_col.get(f.attribute[0])
        if st is None or not st.get("has_min_max"):
            return True
        lo, hi = st["min"], st["max"]
        try:
            if isinstance(f, dsf.EqualTo):
                return lo <= f.value <= hi
            if isinstance(f, dsf.GreaterThan):
                return hi > f.value
            if isinstance(f, dsf.GreaterThanOrEqual):
                return hi >= f.value
            if isinstance(f, dsf.LessThan):
                return lo < f.value
            if isinstance(f, dsf.LessThanOrEqual):
                return lo <= f.value
            if isinstance(f, dsf.In):
                return any(lo <= v <= hi for v in f.values)
        except TypeError:
            return True  # incomparable types: never prune
        return True


class ParquetPagesSource(DataSource):
    """``spark.read.format("parquetpages").option("path", f)
    .option("page_size", N).load()`` — schema is declared from the
    parquet footer at plan time (driver metadata read only).
    ``.option("pushdown", "true")`` additionally prunes row groups
    from footer zone maps (requires
    spark.sql.python.filterPushdown.enabled=true)."""

    @classmethod
    def name(cls):
        return "parquetpages"

    def schema(self):
        from pyspark.sql.pandas.types import (  # noqa: PLC0415
            from_arrow_schema,
        )
        import pyarrow.parquet as pq  # noqa: PLC0415

        path = self.options.get("path")
        if not path:
            raise ValueError("parquetpages source requires option 'path'")
        return from_arrow_schema(
            pq.ParquetFile(path).schema_arrow
        )

    def reader(self, schema):
        if self.options.get("pushdown") == "true":
            return PruningParquetPagesReader(self.options)
        return ParquetPagesReader(self.options)


def register_parquet_pages(spark) -> None:
    """Idempotent registration of the paged-parquet source."""
    spark.dataSource.register(ParquetPagesSource)
