from __future__ import annotations

import os
import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

SF_SMOKE = "/root/testdata/sf0.001"


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "slow: exhaustive fuzz/parity test excluded from the default "
        "profile (run with SPARK_GRAFT_FULL_TESTS=1)",
    )


def pytest_collection_modifyitems(config, items):
    """Fast default profile (VERDICT r14 next-round #2a): the full
    suite outran the driver's verify capture window (~27 quiet
    minutes; the r14 round shipped tests_ok=false on a suite that had
    zero failures, purely because pytest never got to print its
    summary). The dozen member-exhaustive fuzz/parity tests that
    consume ~60% of the wall are marked ``slow`` and SKIPPED by
    default — still collected, visibly reported as skips, and run in
    full with ``SPARK_GRAFT_FULL_TESTS=1`` (done at every round close;
    the per-member coverage they provide is a closing gate, not a
    per-commit one — each family keeps a smaller always-on test)."""
    if os.environ.get("SPARK_GRAFT_FULL_TESTS") == "1":
        return
    skip = pytest.mark.skip(
        reason="slow profile (SPARK_GRAFT_FULL_TESTS=1 enables)"
    )
    for item in items:
        if "slow" in item.keywords:
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    from irs_990_efiler_database_spark.session import _cpus, get_spark

    s = get_spark("tests", master=f"local[{_cpus()}]", shuffle_partitions=8)
    yield s
    s.stop()
