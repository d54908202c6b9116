from __future__ import annotations

import gc
import os
import sys
from pathlib import Path

import pytest

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from aidc_2018_timeseries_spark.session import get_spark

#: small scale factor for fast local iteration; the driver uses sf0.01
SF_DIR = os.environ.get("PARITY_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark(cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


@pytest.fixture(scope="session")
def py4j_commands(spark):
    """``count(build)``: the py4j commands ``build()`` sends, object
    releases (``m``/``d``) left out; gc is off so no release of an
    unrelated object lands in the count."""
    client = spark.sparkContext._gateway._gateway_client

    def count(build) -> int:
        send = client.send_command
        sent = []

        def counting(command, *args, **kwargs):
            sent.append(command)
            return send(command, *args, **kwargs)

        gc.disable()
        client.send_command = counting
        try:
            build()
        finally:
            client.send_command = send
            gc.enable()
        return sum(1 for c in sent if not c.startswith("m\nd\n"))

    return count
