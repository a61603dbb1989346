from __future__ import annotations

import os

import pytest

import hypo
from demo_apache_flink_streaming_mode_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_CORRECT = "/root/testdata/sf0.01"


def pytest_configure(config):
    # load the requested hypothesis profile BEFORE test modules import,
    # so module-level hypo.budget(...) decorators bind to it (the
    # hypothesis plugin itself loads profiles too late for that)
    prof = config.getoption("--hypothesis-profile", default=None)
    if prof:
        hypo.activate(prof)


@pytest.fixture(scope="session")
def spark():
    # a driver heap sized to the host: under get_spark's 48g default, G1
    # grew the test JVM to 14-15.5 GB on a 16 GB machine and the kernel's
    # OOM killer ended the run; the test inputs need far less
    ram_mb = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES") // 2**20
    os.environ.setdefault("SPARK_DRIVER_MEM", f"{ram_mb // 4}m")
    s = get_spark("tests", cpus=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_SMOKE
