"""Shared fixtures: one SparkSession per test run, a DuckDB connection
with the fixture views registered, and the oracle-compare helper that
mimics the driver's t2 gate (sorted columns, sorted rows, rounded
floats, order-insensitive compare). Canonicalization and the strict
comparison are the SAME code the driver-simulation tool uses
(tools/check_oracle.py) — a second, more lenient copy here is exactly
how an int-vs-float oracle bug stayed invisible until the driver's
value-hash caught it."""

from __future__ import annotations

import os
import sys
import xml.etree.ElementTree as ET

import duckdb
import pandas as pd
import pytest

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from data_warehouse_co_healthy_spark.schemas import TESTDATA_TABLES
from data_warehouse_co_healthy_spark.session import get_spark
from tools.check_oracle import canonicalize, compare_strict

# Default the local oracle mirror to the DRIVER's scale (sf0.01) so
# summation-order / precision flakes surface locally before the driver
# sees them; export SPARK_GRAFT_TEST_SF_DIR=/root/testdata/sf0.001 for a
# fast opt-in iteration loop.
SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.01")


#: Session conf and SparkContext Hadoop conf as the ``spark`` fixture
#: created them. Read through the ``no_leaked_conf`` fixture: a test
#: module's ``from tests.conftest import`` loads a second copy of this
#: file, whose dict is never filled.
_CONF_AT_START: dict[str, dict[str, str]] = {}


def conf_state(spark) -> tuple[dict[str, str], dict[str, str]]:
    """(session conf, SparkContext Hadoop conf). The Hadoop conf is
    serialized by ``writeXml`` in the JVM and parsed here, so reading
    its ~1,000 entries costs a few py4j calls, not one per entry."""
    sw = spark._jvm.java.io.StringWriter()
    spark._jsc.hadoopConfiguration().writeXml(sw)
    hadoop = {
        p.findtext("name"): p.findtext("value")
        for p in ET.fromstring(sw.toString()).iter("property")
    }
    return dict(spark.conf.getAll), hadoop


def _diff(want: dict, got: dict) -> dict:
    return {
        k: (want.get(k), got.get(k))
        for k in sorted(set(want) | set(got))
        if want.get(k) != got.get(k)
    }


@pytest.fixture(scope="session")
def spark():
    s = get_spark("tests", cpus=8)
    # SharedState writes hive.metastore.warehouse.dir into the Hadoop
    # conf on first use; initialize it before taking the snapshot
    s._jsparkSession.sharedState()
    _CONF_AT_START["session"], _CONF_AT_START["hadoop"] = conf_state(s)
    yield s


@pytest.fixture
def no_leaked_conf(spark):
    """``check(name, session_overrides=None)`` fails when the session
    conf or the SparkContext Hadoop conf differs from the ``spark``
    fixture's creation snapshot (``session_overrides``: keys a running
    fixture set on purpose)."""

    def check(name, session_overrides=None):
        session, hadoop = conf_state(spark)
        want = {**_CONF_AT_START["session"], **(session_overrides or {})}
        leaked = {
            "session": _diff(want, session),
            "hadoop": _diff(_CONF_AT_START["hadoop"], hadoop),
        }
        assert not any(leaked.values()), f"{name} left conf behind: {leaked}"

    return check


@pytest.fixture(scope="session")
def duck():
    con = duckdb.connect()
    for t in TESTDATA_TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM "
            f"read_parquet('{SF_DIR}/{t}.parquet')"
        )
    yield con
    con.close()




def assert_matches_oracle(spark, duck, fn, sql, name=""):
    got = canonicalize(fn(spark, SF_DIR).toPandas())
    want = canonicalize(duck.sql(sql).df())
    assert len(got) == len(want), (
        f"{name}: row count {len(got)} != oracle {len(want)}"
    )
    assert list(got.columns) == list(want.columns), (
        f"{name}: columns {list(got.columns)} != oracle {list(want.columns)}"
    )
    problems = compare_strict(got, want)
    if problems:  # pragma: no cover - diagnostic path
        try:
            pd.testing.assert_frame_equal(
                got, want, check_dtype=False, check_exact=False,
                atol=1e-3, rtol=1e-6,
            )
            kind = "driver-hash divergence (values numerically equal)"
        except AssertionError:
            kind = "value mismatch"
        raise AssertionError(
            f"{name}: {kind} vs oracle\n" + "\n".join(problems)
        )
