"""Shared fixtures: one local SparkSession per test session."""

from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bigdata_capstone_spark.session import build_session  # noqa: E402

# In local mode the driver JVM hosts every executor thread. 6g holds the
# whole default profile and leaves room for the subprocess JVMs some tests
# start next to it; an explicit SPARK_DRIVER_MEM still wins.
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


@pytest.fixture
def session_checkpoint_dir(spark, tmp_path):
    """Give the session a checkpoint dir for one test, so the iterative
    operators take the reliable ``checkpoint()`` path. Teardown clears
    it (PySpark has no public unset), so later tests keep the
    ``localCheckpoint`` default. A test that needs the local path first
    requests this fixture late, with ``request.getfixturevalue``."""
    sc = spark.sparkContext
    path = tmp_path / "session_ckpt"
    sc.setCheckpointDir(str(path))
    yield path
    getattr(sc._jsc.sc(), "checkpointDir_$eq")(
        sc._jvm.scala.Option.apply(None)
    )
