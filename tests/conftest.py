from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from monolith_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        app_name="monolith-spark-tests",
        cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")),
        shuffle_partitions=8,
    )
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


def _py4j_calls(fn) -> int:
    """py4j round trips made while ``fn`` runs."""
    from py4j.java_gateway import GatewayClient

    calls, send = [0], GatewayClient.send_command

    def counting(client, *args, **kwargs):
        calls[0] += 1
        return send(client, *args, **kwargs)

    GatewayClient.send_command = counting
    try:
        fn()
    finally:
        GatewayClient.send_command = send
    return calls[0]


@pytest.fixture(scope="session")
def py4j_calls():
    """The py4j round-trip counter: ``py4j_calls(fn)`` runs ``fn`` and
    returns how many calls it sent to the JVM."""
    return _py4j_calls
