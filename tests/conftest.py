from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from dvx.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("DVX_TEST_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers", "slow: multi-minute guard tests (recall floors, scale pins)"
    )


@pytest.fixture(scope="session")
def spark():
    # size the driver heap to the host: with the engine's 32g default the
    # JVM heap can outgrow a small host's RAM before it collects, and the
    # kernel then kills the JVM mid-suite
    ram_gb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**30
    os.environ.setdefault("DVX_DRIVER_MEMORY", f"{max(2, min(8, ram_gb // 2))}g")
    spark = get_spark(app_name="dvx-tests", master="local[4]", shuffle_partitions=4)
    yield spark


@pytest.fixture(scope="session")
def sf_dir() -> str:
    return SF_DIR
