from __future__ import annotations

import sys
from pathlib import Path

import pytest

REPO = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(REPO))

# Load the FULL query registry before any test module computes its
# parametrization lists: several modules derive their id lists from
# registry.QUERIES by prefix, so without this a partial pytest run
# (one module, one chunk) collects fewer cases than a full-directory
# run — ~47 cases used to materialize only when import order
# cooperated (VERDICT r9). Importing the driver entry registers every
# plans module exactly once.
import __spark_entry__  # noqa: F401,E402

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


@pytest.fixture(scope="session")
def spark():
    from medallion_delta_lake_spark.session import get_spark

    spark = get_spark(app_name="mdls-tests", shuffle_partitions=8)
    yield spark
    spark.stop()


@pytest.fixture(autouse=True)
def _release_tracked_caches():
    """Drain the global (scope-less) tracked-cache list after every
    test so one test's operator caches never leak into another's
    cache-emptiness assertions."""
    yield
    from medallion_delta_lake_spark.operators.caching import release_caches

    release_caches()


def pytest_terminal_summary(terminalreporter, exitstatus, config):
    """Say what the default fast tier (``-m "not slow"``, pytest.ini)
    left out, so a green fast run is not read as a green full suite."""
    if config.option.markexpr != "not slow":
        return
    deselected = len(terminalreporter.stats.get("deselected", []))
    terminalreporter.write_line(
        f"fast tier: {deselected} slow tests deselected; full tier: "
        'python -m pytest tests/ -q -m "slow or not slow"'
    )
