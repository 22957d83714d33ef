"""Session factory environment handling."""

from __future__ import annotations

import os
import subprocess
import sys

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_cpus_with_task_retries_form():
    """``SPARK_GRAFT_CPUS=N,F`` (local master with F task attempts)
    imports, takes N for the shuffle-partition default and passes the
    whole spec to ``local[...]``."""
    code = (
        "from annotation_service_spark import session\n"
        "print(session.DEFAULT_SHUFFLE_PARTITIONS)\n"
        "s = session.get_session(app_name='cpus_form')\n"
        "print(s.sparkContext.master)\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="4,2", PYTHONPATH=REPO)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["4", "local[4,2]"]


def test_driver_memory_default_fits_the_host():
    """With ``SPARK_GRAFT_DRIVER_MEM`` unset the driver heap is 16g
    capped at half of physical memory, and the JVM runs with it."""
    code = (
        "import os\n"
        "from annotation_service_spark import session\n"
        "s = session.get_session(app_name='driver_mem_default')\n"
        "print(s.sparkContext.getConf().get('spark.driver.memory'))\n"
        "print(s.sparkContext._jvm.java.lang.Runtime.getRuntime().maxMemory())\n"
        "s.stop()\n"
    )
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", PYTHONPATH=REPO)
    env.pop("SPARK_GRAFT_DRIVER_MEM", None)
    out = subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=300,
    )
    assert out.returncode == 0, out.stderr[-2000:]
    conf, max_heap = out.stdout.split()
    physical = os.sysconf("SC_PAGE_SIZE") * os.sysconf("SC_PHYS_PAGES")
    assert conf == f"{min(16 << 10, physical // 2 >> 20)}m"
    # the JVM rounds the heap up to whole G1 regions
    assert int(max_heap) <= 0.51 * physical


def test_driver_memory_variable_wins(monkeypatch):
    from annotation_service_spark import session

    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "3g")
    assert session._driver_memory() == "3g"
