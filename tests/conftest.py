from __future__ import annotations

import os

import pytest

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR_TEST", "/root/testdata/sf0.001")

# Two-tier suite (VERDICT r8 #3): `-m fast` is the iteration gate — the
# driver-shaped correctness surface (oracle parity, pinned plan shapes,
# reference golden cases). Everything else (edge corpora, streaming,
# codecs, properties) carries the `slow` marker; the FULL suite remains
# the pre-commit / end-of-round bar.
_FAST_MODULES = {"test_parity", "test_plans", "test_reference_golden", "test_oracle_helpers"}


def pytest_collection_modifyitems(config, items):
    for item in items:
        mod = item.module.__name__.rsplit(".", 1)[-1]
        marker = "fast" if mod in _FAST_MODULES else "slow"
        item.add_marker(getattr(pytest.mark, marker))


@pytest.fixture(scope="session")
def spark():
    from kinesis_test_spark.session import get_spark

    s = get_spark("kinesis_test_spark-tests")
    yield s


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
