from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from custom_python_etl_data_connector_shivaask_username_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("etl-spark-tests", cpus=4, shuffle_partitions=4)
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def jvm_error(spark) -> Exception:
    """A real ``Py4JJavaError`` (a JVM ``ClassNotFoundException``), for
    fault tests of handlers that catch only JVM-side failures."""
    from py4j.protocol import Py4JJavaError

    try:
        spark._jvm.java.lang.Class.forName("no.such.Class")
    except Py4JJavaError as e:
        return e
    raise AssertionError("Class.forName did not raise")
