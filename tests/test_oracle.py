"""The local mirror of the driver's t2 gate: every registered query with
an oracle must hash-match DuckDB on the fixture parquet (sf0.01 — the
driver's own scale — by default; set
SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 for a faster opt-in)."""

from __future__ import annotations

import pytest

import __spark_entry__ as entrymod
from tests.conftest import assert_matches_oracle

QUERIES = entrymod.queries()
ORACLES = entrymod.oracle_sql()
WITH_ORACLE = sorted(set(QUERIES) & set(ORACLES))


def test_entry_smoke(spark):
    df = entrymod.entry(spark)
    assert df.count() > 0
    assert df.schema.fieldNames()


def test_all_queries_declared():
    from data_warehouse_co_healthy_spark.plans.queries import NO_ORACLE

    missing = set(QUERIES) - set(ORACLES) - set(NO_ORACLE)
    assert not missing, f"queries with no oracle and no declared reason: {missing}"


def test_no_orphan_oracles():
    orphans = set(ORACLES) - set(QUERIES)
    assert not orphans, f"oracles without queries: {orphans}"


@pytest.mark.parametrize("name", WITH_ORACLE)
def test_query_matches_oracle(spark, duck, name, no_leaked_conf):
    assert_matches_oracle(spark, duck, QUERIES[name], ORACLES[name], name)
    no_leaked_conf(name)


@pytest.mark.parametrize("name", sorted(set(QUERIES) - set(ORACLES)))
def test_rows_only_queries_run(spark, name, no_leaked_conf):
    from tests.conftest import SF_DIR

    df = QUERIES[name](spark, SF_DIR)
    assert df.count() >= 0
    no_leaked_conf(name)


# ---------------------------------------------------------------------------
# Property tests for the canonicalization/compare the driver-simulation
# uses (tools/check_oracle.py, shared by conftest.assert_matches_oracle).
# These pin the DRIVER-faithfulness of the comparison itself: dtype
# families must be distinguished (int 8 vs float 8.0 hash differently at
# the driver), while row/column order and sub-rounding float noise must
# not matter.
# ---------------------------------------------------------------------------

import datetime as _dt

import numpy as np
import pandas as pd
from hypothesis import given, settings
from hypothesis import strategies as st

from tools.check_oracle import canonicalize, compare_strict

_ints = st.lists(st.integers(-10**6, 10**6), min_size=1, max_size=12)


@settings(max_examples=60, deadline=None)
@given(_ints)
def test_integral_float_vs_int_is_flagged(vals):
    """The HUGEINT->float64 class: numerically equal, driver-hash
    different. canonicalize must NOT silently unify them."""
    g = pd.DataFrame({"k": range(len(vals)), "v": np.array(vals, "int64")})
    w = g.assign(v=g["v"].astype("float64"))
    problems = compare_strict(canonicalize(g), canonicalize(w))
    assert problems and problems[0].startswith("dtype[v]")


@settings(max_examples=60, deadline=None)
@given(_ints, st.randoms(use_true_random=False))
def test_row_and_column_order_insensitive(vals, rnd):
    g = pd.DataFrame({
        "b": np.array(vals, "int64"),
        "a": [f"s{v % 7}" for v in vals],
        "c": np.array(vals, "float64") / 8.0,  # exact binary fractions
    })
    rows = list(range(len(g)))
    rnd.shuffle(rows)
    cols = ["c", "a", "b"]
    w = g.loc[rows, cols].reset_index(drop=True)
    assert compare_strict(canonicalize(g), canonicalize(w)) == []


@settings(max_examples=60, deadline=None)
@given(
    st.lists(
        # k != 0: noise below a ZERO lattice point flips the sign bit
        # (-1e-9 rounds to -0.0) and the comparator is deliberately
        # sign-strict — that class is covered by the engines' "+ 0.0"
        # normalization convention, not by canonicalize
        st.integers(-10**7, 10**7)
        .filter(lambda k: k != 0)
        .map(lambda k: k * 1e-4),
        min_size=1,
        max_size=12,
    ),
    st.integers(-5, 5),
)
def test_sub_rounding_noise_is_equal_but_real_drift_is_not(vals, eps_sign):
    """Values on a NONZERO 1e-4 lattice ± <=5e-10 noise round
    identically at the canonical 8 digits (engines agree to ~1 ulp
    pre-round — the modeled noise is generous at 1e-10-scale; the
    round-7 ndigits 6->8 tightening means +-5e-9 would sit exactly ON
    the half-grid, which is the boundary class snap_round exists for,
    not checker noise); a 1e-3 drift must be caught."""
    g = pd.DataFrame({"v": np.array(vals, "float64")})
    w = pd.DataFrame({"v": np.array(vals, "float64") + eps_sign * 1e-10})
    assert compare_strict(canonicalize(g), canonicalize(w)) == []
    if vals:
        drifted = np.array(vals, "float64")
        drifted[0] += 1e-3
        w2 = pd.DataFrame({"v": drifted})
        assert compare_strict(canonicalize(g), canonicalize(w2))


@settings(max_examples=30, deadline=None)
@given(st.lists(st.dates(_dt.date(1990, 1, 1), _dt.date(2030, 1, 1)),
                min_size=1, max_size=12))
def test_date_objects_vs_datetime64_unify(days):
    """Spark toPandas gives datetime.date objects, DuckDB .df() gives
    datetime64 — the same calendar dates must canonicalize equal."""
    g = pd.DataFrame({"d": days})                      # object of date
    w = pd.DataFrame({"d": pd.to_datetime(pd.Series(days))})
    assert compare_strict(canonicalize(g), canonicalize(w)) == []


@settings(max_examples=60, deadline=None)
@given(_ints, st.data())
def test_any_single_cell_int_mutation_is_caught(vals, data):
    g = pd.DataFrame({"k": range(len(vals)), "v": np.array(vals, "int64")})
    i = data.draw(st.integers(0, len(vals) - 1))
    w = g.copy()
    w.loc[i, "v"] = w.loc[i, "v"] + 1
    assert compare_strict(canonicalize(g), canonicalize(w))
