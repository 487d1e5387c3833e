from __future__ import annotations

import os
import sys
import threading

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from webarchive_indexing_spark.session import get_session  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_MID = os.environ.get("SPARK_GRAFT_TEST_SF_DIR_MID", "/root/testdata/sf0.01")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    s = get_session("webarchive-indexing-spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def sf_dir_mid():
    return SF_DIR_MID


class Py4jCalls:
    """Counts the driver→JVM round trips the calling thread makes while
    the block runs, by wrapping the gateway client's ``send_command``.
    py4j's finalizer thread sends the releases of dropped JVM handles
    through the same client at arbitrary times; those are not counted."""

    def __init__(self, spark):
        self.client = spark.sparkContext._gateway._gateway_client
        self.n = 0

    def __enter__(self):
        inner = self.inner = self.client.send_command
        caller = threading.get_ident()

        def send_command(*args, **kwargs):
            if threading.get_ident() == caller:
                self.n += 1
            return inner(*args, **kwargs)

        self.client.send_command = send_command
        return self

    def __exit__(self, *exc):
        self.client.send_command = self.inner


@pytest.fixture
def py4j_calls(spark):
    """``with py4j_calls() as calls: ...`` then ``calls.n``."""
    return lambda: Py4jCalls(spark)
