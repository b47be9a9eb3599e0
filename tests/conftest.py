from __future__ import annotations

import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from pdf_parse_vector_db_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pytest", master="local[8]", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def duck():
    from tools.compare_oracle import duckdb_connection

    return duckdb_connection(SF_ORACLE)


@pytest.fixture()
def gateway_calls(spark):
    """`gateway_calls(fn, *args, **kwargs)` → (fn's result, the number of
    py4j commands sent to the JVM while it ran). Memory commands are not
    counted: py4j's finalizer thread sends those when an unrelated
    JavaObject is garbage-collected."""
    from py4j.protocol import MEMORY_COMMAND_NAME

    client = spark.sparkContext._gateway._gateway_client
    real = client.send_command

    def run(fn, *args, **kwargs):
        n = [0]

        def counting(command, *a, **kw):
            if not command.startswith(MEMORY_COMMAND_NAME):
                n[0] += 1
            return real(command, *a, **kw)

        client.send_command = counting
        try:
            out = fn(*args, **kwargs)
        finally:
            del client.send_command
        return out, n[0]

    return run
