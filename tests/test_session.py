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
