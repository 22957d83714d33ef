from __future__ import annotations

import os

import pytest

from annotation_service_spark.caching import release_caches
from annotation_service_spark.session import get_session

# The suite's JVMs share one machine: this session's and the subprocess
# sessions of test_task_retry.py and test_session.py. Under a 16g heap,
# G1 grew this session past 11 GB on a 15 GB host and the kernel killed
# it while a subprocess JVM ran beside it; the session default (half of
# physical memory there) still lets two JVMs claim all of it.
# Subprocesses inherit the cap; a value set by the caller wins.
os.environ.setdefault("SPARK_GRAFT_DRIVER_MEM", "6g")


@pytest.fixture(scope="session")
def spark():
    s = get_session(app_name="asvc_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(autouse=True)
def _release_root_caches():
    """Each test starts without the root-scope caches of the last."""
    yield
    release_caches()
