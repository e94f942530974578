"""Driver-simulation: run every __spark_entry__ query on a VANILLA
SparkSession (Spark 4 defaults — ANSI on) at a given sf_dir and compare
with its DuckDB oracle the way the driver's t2 gate does (row count,
column names, order-insensitive rounded values).

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import datetime
import math
import os
import sys
import time

import duckdb
import pandas as pd
from pyspark.sql import SparkSession

#: numpy dtype.kind -> comparison family. int-vs-float is the driver's
#: hash-divergence class (DuckDB HUGEINT window sums materialize as
#: float64 while Spark emits int64: numerically equal, hash-different).
_KIND_FAMILY = {
    "i": "int", "u": "int", "b": "bool", "f": "float",
    "M": "datetime", "m": "timedelta", "O": "object",
}


def _family(s: pd.Series) -> str:
    fam = _KIND_FAMILY.get(s.dtype.kind, s.dtype.kind)
    if fam == "object":
        vals = s.dropna()
        if len(vals) and all(isinstance(v, datetime.date)
                             and not isinstance(v, datetime.datetime)
                             for v in vals):
            return "date"
        if len(vals) and all(isinstance(v, float) for v in vals):
            return "float"
    return fam


def canonicalize(df: pd.DataFrame, ndigits: int = 8) -> pd.DataFrame:
    """Column-sort, normalize engine-incidental representations
    (datetime unit, date-as-object vs datetime64), round true floats to
    ``ndigits`` (>= the widest in-query round — pagerank_near_dup emits
    snap_round(rank, 8), so 8 keeps the checker's rounding at least as
    tight as every emitted precision), row-sort.

    Deliberately does NOT coerce int<->float: the driver's value-hash
    distinguishes 8 from 8.0, so the checker must too.
    """
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if pd.api.types.is_float_dtype(df[c]):
            df[c] = df[c].round(ndigits)
        elif pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].astype("datetime64[us]")
        elif df[c].dtype == object:
            fam = _family(df[c])
            if fam == "date":
                df[c] = pd.to_datetime(df[c]).astype("datetime64[us]")
            elif fam == "float":
                df[c] = df[c].astype("float64").round(ndigits)
            else:
                df[c] = df[c].map(
                    lambda v: round(v, ndigits)
                    if isinstance(v, float) and not math.isnan(v)
                    else v
                )
    order = df.astype(str).sort_values(by=list(df.columns)).index
    return df.loc[order].reset_index(drop=True)


def compare_strict(g: pd.DataFrame, w: pd.DataFrame) -> list[str]:
    """Driver-faithful comparison of two canonicalized frames.

    Returns a list of problems (empty == driver hash would match):
    - ``dtype`` problems where the column families differ (the
      int-vs-float class the old atol compare was blind to);
    - ``value`` problems where the exact post-round string forms
      differ.
    """
    problems: list[str] = []
    if len(g) != len(w):
        # honor the "returns problems" contract even when callers
        # forget to pre-check: unequal lengths would otherwise raise
        # from the Series comparison below
        return [f"rows: {len(g)} != {len(w)}"]
    for c in g.columns:
        if len(g) == 0 or (g[c].isna().all() and w[c].isna().all()):
            # an empty or all-null column carries no dtype signal —
            # one engine materializes object, the other datetime64 /
            # float64, yet the driver hash of the (empty/null) values
            # matches; a family mismatch here would be spurious
            continue
        gf, wf = _family(g[c]), _family(w[c])
        if gf != wf:
            problems.append(
                f"dtype[{c}]: spark={g[c].dtype}/{gf} "
                f"oracle={w[c].dtype}/{wf}"
            )
    if not problems:
        gs, ws = g.astype(str), w.astype(str)
        for c in g.columns:
            if not gs[c].equals(ws[c]):
                bad = (gs[c] != ws[c])
                i = int(bad.idxmax())
                problems.append(
                    f"value[{c}]: {int(bad.sum())} rows differ, first "
                    f"row {i}: spark={gs[c].iloc[i]!r} "
                    f"oracle={ws[c].iloc[i]!r}"
                )
    return problems


def main() -> int:
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    only = set(sys.argv[2:])

    sys.path.insert(
        0, os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    )
    import __spark_entry__ as entrymod

    spark = (
        SparkSession.builder.master("local[8]")
        .appName("oracle-check")
        .getOrCreate()
    )
    spark.sparkContext.setLogLevel("ERROR")

    from data_warehouse_co_healthy_spark.schemas import TESTDATA_TABLES

    duck = duckdb.connect()
    for t in TESTDATA_TABLES:
        duck.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{sf_dir}/{t}.parquet')"
        )

    queries, oracles = entrymod.queries(), entrymod.oracle_sql()
    n_pass = n_fail = 0
    for name, fn in sorted(queries.items()):
        if only and name not in only:
            continue
        t0 = time.time()
        try:
            got = fn(spark, sf_dir).toPandas()
            if name not in oracles:
                print(f"  rows-only  {name}: {len(got)} rows "
                      f"({time.time() - t0:.1f}s)")
                n_pass += 1
                continue
            want = duck.sql(oracles[name]).df()
            g, w = canonicalize(got), canonicalize(want)
            if len(g) != len(w):
                raise AssertionError(f"rows {len(g)} != {len(w)}")
            if list(g.columns) != list(w.columns):
                raise AssertionError(
                    f"cols {list(g.columns)} != {list(w.columns)}"
                )
            problems = compare_strict(g, w)
            if problems:
                # classify: does the old lenient compare pass? If so
                # this is exactly the driver-hash-only blind spot.
                try:
                    pd.testing.assert_frame_equal(
                        g, w, check_dtype=False, check_exact=False,
                        atol=1e-3, rtol=1e-6,
                    )
                    tag = "HASHDIVERGE"
                except AssertionError:
                    tag = "MISMATCH"
                raise AssertionError(f"{tag} " + "; ".join(problems))
            print(f"  MATCH      {name}: {len(g)} rows "
                  f"({time.time() - t0:.1f}s)")
            n_pass += 1
        except Exception as e:  # noqa: BLE001
            n_fail += 1
            msg = str(e).splitlines()[0][:160]
            print(f"  FAIL       {name}: {msg}")
    print(f"\n{n_pass} pass, {n_fail} fail at {sf_dir}")
    return 1 if n_fail else 0


if __name__ == "__main__":
    raise SystemExit(main())
