from __future__ import annotations

import os

import pytest

# Test heap, set before the session fixture starts. Subprocess JVMs
# (the CLI and oracle-parity tests) inherit it: with get_spark's default
# pre-touched 12g heap, a second JVM beside the session's does not fit a
# 15 GB host and the session JVM is killed.
os.environ.setdefault("SPARK_DRIVER_MEM", "4g")


@pytest.fixture(scope="session")
def spark():
    from anomalydetection_spark import get_spark

    s = get_spark(
        "pytest",
        master="local[4]",
        shuffle_partitions=4,
        extra_conf={"spark.ui.showConsoleProgress": "false"},
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s
    s.stop()
