"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_capstone_spark.session import build_session  # noqa: E402

# In local mode the driver JVM hosts every executor thread. build_session's
# 48g default heap is sized for a large host; on a 16 GB one the heap of a
# 30-minute test session grows past physical memory (14 GB resident within
# minutes) and the JVM is killed mid-suite, failing every later test. 6g
# holds the whole default profile; an explicit SPARK_DRIVER_MEM still wins.
os.environ.setdefault("SPARK_DRIVER_MEM", "6g")

SF_SMALL = os.environ.get("SPARK_GRAFT_SF_SMALL", "/root/testdata/sf0.001")
SF_ORACLE = os.environ.get("SPARK_GRAFT_SF_ORACLE", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    spark = build_session(app_name="bigdata_capstone_spark_tests")
    yield spark


@pytest.fixture(scope="session")
def sf_small() -> str:
    return SF_SMALL


@pytest.fixture(scope="session")
def sf_oracle() -> str:
    return SF_ORACLE
