"""Shared fixtures: one SparkSession per test run, a DuckDB oracle
connection per scale factor, and the oracle-parity check. The
comparator lives in ``lakehouse_app_spark.parity``; it is re-exported
here for callers that import it from ``conftest``."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from lakehouse_app_spark import get_spark, load_all_queries
from lakehouse_app_spark.parity import (  # noqa: F401  (re-exported)
    assert_frames_match,
    normalize_frame,
    oracle_connection,
)

TEST_SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")

load_all_queries()


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="lakehouse-app-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return TEST_SF_DIR


@pytest.fixture(scope="session")
def duck(sf_dir):
    con = oracle_connection(sf_dir)
    yield con
    con.close()


@pytest.fixture(scope="session")
def check_parity(spark, duck, sf_dir):
    from lakehouse_app_spark import ORACLES, QUERIES

    def _check(name: str):
        sdf = QUERIES[name](spark, sf_dir)
        spark_pdf = sdf.toPandas()
        duck_pdf = duck.execute(ORACLES[name]).fetchdf()
        assert_frames_match(spark_pdf, duck_pdf, name)
        return spark_pdf

    return _check
