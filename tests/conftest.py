import json
import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

REFERENCE_TESTS = Path("/root/reference/tests")
TESTDATA = Path(os.environ.get("SPARK_GRAFT_TESTDATA", "/root/testdata"))


def load_fixture_record(record_id: str) -> dict:
    with open(REFERENCE_TESTS / "in" / record_id) as fh:
        return json.load(fh)


def load_golden(field: str, record_id: str):
    with open(REFERENCE_TESTS / "out" / field / record_id) as fh:
        return json.load(fh)


@pytest.fixture(scope="session")
def spark():
    from esmarc_spark.session import get_spark

    spark = get_spark("esmarc-spark-tests", cpus=4, shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture()
def cc_calls(monkeypatch):
    """Counts connected-components runs: every CC, public or stored,
    goes through canonicalize._components."""
    from esmarc_spark.pipeline import canonicalize

    calls = []
    real = canonicalize._components

    def counting(*args, **kwargs):
        calls.append(1)
        return real(*args, **kwargs)

    monkeypatch.setattr(canonicalize, "_components", counting)
    return calls
