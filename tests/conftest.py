from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from file_scraper_spark.session import get_spark

SF_DIR_SMOKE = "/root/testdata/sf0.001"
SF_DIR_ORACLE = os.environ.get("SPARK_GRAFT_TEST_SF_DIR", "/root/testdata/sf0.001")


#: for tests that read the smoke fixture by path rather than through
#: the ``sf_dir`` fixture
needs_smoke_fixture = pytest.mark.skipif(
    not os.path.isdir(SF_DIR_SMOKE),
    reason=f"test fixture parquet absent: {SF_DIR_SMOKE}",
)


def pytest_collection_modifyitems(config, items):
    """Most suites read the generated parquet fixture through
    ``sf_dir`` (TESTDATA.md: deterministic, read-only, NOT regenerable
    from this repo). On hosts without it — e.g. a bare CI runner —
    skip those tests rather than fail at the first load(), and run
    everything else. Point SPARK_GRAFT_TEST_SF_DIR at a fixture to opt
    back in."""
    if os.path.isdir(SF_DIR_ORACLE):
        return
    skip = pytest.mark.skip(reason=f"test fixture parquet absent: {SF_DIR_ORACLE}")
    for item in items:
        if "sf_dir" in getattr(item, "fixturenames", ()):
            item.add_marker(skip)


@pytest.fixture(scope="session")
def spark():
    s = get_spark(
        "pytest",
        extra_conf={
            "spark.sql.shuffle.partitions": "8",
            # full PushedFilters/ReadSchema in plan strings (test_plans)
            "spark.sql.maxMetadataStringLength": "10000",
        },
    )
    yield s
    s.stop()


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR_ORACLE
