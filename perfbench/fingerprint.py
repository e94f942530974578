"""Output fingerprint: one aggregate that reads every column.

``count()`` lets Catalyst prune every column the count does not need,
so it times a smaller plan than the one a user runs. The fingerprint
is instead ``(row count, sum of xxhash64 over all columns)``:

* every column feeds the hash, so no projection can be pruned;
* the sum is exact (DECIMAL), so it does not depend on row order or
  partitioning;
* floating values are rounded to ``DIGITS`` decimals first (and -0.0
  folded into 0.0), so summation-order noise in the last bits does
  not change the fingerprint;
* maps are hashed as their key-sorted entry arrays, because Spark
  refuses to hash a map directly.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

DIGITS = 6


def normalize(col: Column, dtype: T.DataType) -> Column:
    """``col`` rewritten so that equal-up-to-rounding values hash equal."""
    if isinstance(dtype, (T.FloatType, T.DoubleType)):
        return F.round(col.cast("double"), DIGITS) + F.lit(0.0)
    if isinstance(dtype, T.ArrayType):
        return F.transform(col, lambda x: normalize(x, dtype.elementType))
    if isinstance(dtype, T.MapType):
        entry = T.StructType([
            T.StructField("key", dtype.keyType),
            T.StructField("value", dtype.valueType),
        ])
        return normalize(F.array_sort(F.map_entries(col)), T.ArrayType(entry))
    if isinstance(dtype, T.StructType):
        if not dtype.fields:
            return F.lit(0)
        return F.struct(*[
            normalize(col.getField(f.name), f.dataType).alias(f.name)
            for f in dtype.fields
        ])
    return col


def fingerprint_frame(df: DataFrame) -> DataFrame:
    """One-row frame ``(rows, hash)`` over every column of ``df``."""
    cols = [normalize(F.col(f"`{f.name}`"), f.dataType) for f in df.schema]
    row_hash = F.xxhash64(*cols) if cols else F.lit(0)
    return df.select(
        F.count(F.lit(1)).alias("rows"),
        F.coalesce(F.sum(row_hash.cast("decimal(20,0)")),
                   F.lit(0).cast("decimal(30,0)")).alias("hash"),
    )


def fingerprint(df: DataFrame) -> list[int]:
    """Run the fingerprint action; return ``[rows, hash]``."""
    row = fingerprint_frame(df).collect()[0]
    return [int(row["rows"]), int(row["hash"])]
