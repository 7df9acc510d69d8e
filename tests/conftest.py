from __future__ import annotations

import pytest


@pytest.fixture(scope="session")
def spark():
    from dqmtools_spark.session import get_spark

    sp = get_spark(app_name="dqmtools_spark_tests", master="local[4]",
                   shuffle_partitions=8)
    sp.sparkContext.setLogLevel("ERROR")
    yield sp


@pytest.fixture(scope="session")
def sf_dir():
    import os

    return os.environ.get("SPARK_GRAFT_TEST_SF", "/root/testdata/sf0.001")


@pytest.fixture
def count_py4j_commands(spark):
    """``count(fn)``: the Py4J commands the calling thread sends while
    ``fn()`` runs.  The releases of garbage JVM objects go out from
    py4j's finalizer thread whenever Python frees a proxy, so they are
    left out of the count."""
    import threading

    client = spark.sparkContext._gateway._gateway_client

    def count(fn) -> int:
        me = threading.get_ident()
        sent = [0]
        send = client.send_command

        def counting(*args, **kwargs):
            sent[0] += threading.get_ident() == me
            return send(*args, **kwargs)

        client.send_command = counting
        try:
            fn()
        finally:
            client.send_command = send
        return sent[0]

    return count
