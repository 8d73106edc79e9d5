from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO_ROOT = Path(__file__).resolve().parents[1]
sys.path.insert(0, str(REPO_ROOT))

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    # fewer local threads = faster python-worker spawn in tests
    os.environ.setdefault("SPARK_GRAFT_CPUS", "8")
    from fund_data_pipeline_spark.session import get_spark

    spark = get_spark("fund_data_pipeline_spark-tests", shuffle_partitions=8)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR


@pytest.fixture(scope="session")
def tables(spark, sf_dir):
    from fund_data_pipeline_spark.session import load_tables

    return load_tables(spark, sf_dir)


@pytest.fixture
def py4j_round_trips(monkeypatch):
    """``count(fn)``: the py4j commands the calling thread sends while ``fn``
    runs — every DataFrame and Column call it makes. py4j's releases of
    dropped proxies are not counted: its finalizer thread sends them later,
    at times no single build controls."""
    import threading

    from py4j.clientserver import ClientServerConnection

    sent = [0]
    caller = threading.get_ident()
    send = ClientServerConnection.send_command

    def counting(self, command):
        if threading.get_ident() == caller:
            sent[0] += 1
        return send(self, command)

    monkeypatch.setattr(ClientServerConnection, "send_command", counting)

    def count(fn) -> int:
        before = sent[0]
        fn()
        return sent[0] - before

    return count
