import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    from rehiver_spark.session import get_spark

    s = get_spark(app_name="rehiver-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class Py4jCallCounter:
    """Counts Python→JVM round-trips: ``calls(fn, *args)`` runs ``fn``
    and returns how many py4j commands it sent."""

    def __init__(self):
        self.n = 0

    def calls(self, fn, *args, **kwargs) -> int:
        before = self.n
        fn(*args, **kwargs)
        return self.n - before


@pytest.fixture
def py4j_calls(spark, monkeypatch):
    """Wrap the session's ``GatewayClient.send_command`` so a test can
    hold a code path to a py4j round-trip budget."""
    client = spark.sparkContext._gateway._gateway_client
    counter = Py4jCallCounter()
    send = client.send_command

    def counting_send(*args, **kwargs):
        counter.n += 1
        return send(*args, **kwargs)

    monkeypatch.setattr(client, "send_command", counting_send)
    return counter
