from __future__ import annotations

import os
import sys
from typing import NamedTuple

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def _half_of_ram() -> str:
    with open("/proc/meminfo") as f:
        kb = next(int(line.split()[1]) for line in f if line.startswith("MemTotal:"))
    return f"{kb // 2048}m"


# The package's 48g driver default lets the one test JVM's heap grow past
# physical RAM on a small host, where the kernel OOM-kills it mid-suite and
# every later test errors. Half of RAM keeps the JVM inside the host (the
# tests read sf0.001 data); must be set before session.py reads it.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", _half_of_ram())

from pandas_etl_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


@pytest.fixture(scope="session")
def spark():
    s = get_spark("pandas_etl_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


class BuiltQuery(NamedTuple):
    """What the registry-wide lints read off one built catalog query:
    its output schema and unpartitioned ordered windows, or the
    exception that building it (or reading either) raised."""

    schema: object
    windows: list
    error: Exception | None


@pytest.fixture(scope="session")
def registry_builds(spark, sf_dir):
    """Every catalog query built ONCE per session, name -> BuiltQuery.
    Building a query often runs hidden jobs, so the registry-wide lints
    share this pass instead of each rebuilding all queries; the
    DataFrames themselves are not kept."""
    from pandas_etl_spark.catalog import QUERIES
    from pandas_etl_spark.plans import unpartitioned_windows

    builds = {}
    for name, fn in QUERIES.items():
        try:
            df = fn(spark, sf_dir)
            builds[name] = BuiltQuery(df.schema, unpartitioned_windows(df), None)
        except Exception as e:  # surfaced by each consuming test
            builds[name] = BuiltQuery(None, None, e)
    return builds


_FAST_TIER_BANNER = (
    'FAST TIER ONLY (slow tier deselected; run -m "slow or not slow" for everything)'
)
_SLOW_DESELECTED = pytest.StashKey[int]()


def pytest_deselected(items):
    for item in items:
        if item.get_closest_marker("slow"):
            stash = item.config.stash
            stash[_SLOW_DESELECTED] = stash.get(_SLOW_DESELECTED, 0) + 1


def pytest_report_collectionfinish(config, start_path, items):
    n = config.stash.get(_SLOW_DESELECTED, 0)
    if n:
        return [_FAST_TIER_BANNER, f"  ({n} slow tests deselected)"]


def pytest_terminal_summary(terminalreporter, config):
    if config.stash.get(_SLOW_DESELECTED, 0):
        terminalreporter.write_sep("!", _FAST_TIER_BANNER)
