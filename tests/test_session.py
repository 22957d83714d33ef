"""Session factory environment handling."""

from __future__ import annotations

import json
import os
import subprocess
import sys
import zipfile

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


def _run(code: str, **env) -> subprocess.CompletedProcess:
    return subprocess.run(
        [sys.executable, "-c", code],
        cwd=REPO,
        env=dict(os.environ, PYTHONPATH=REPO, **env),
        capture_output=True,
        text=True,
        timeout=300,
    )


def test_python_tasks_run_under_the_worker_entry(spark):
    """A ``get_session`` session's Python tasks run in the shipped
    worker entry, whose ``zipimporter.invalidate_caches`` re-reads a zip
    only when it changed."""

    def entry_of(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame({"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    rows = spark.range(4, numPartitions=2).mapInPandas(entry_of, "m string").collect()
    assert {r.m for r in rows} == {"pyspark_graft_worker"}


def test_extra_worker_path_keeps_the_entry(tmp_path):
    """``extra_conf`` may name its own ``spark.executorEnv.PYTHONPATH``:
    it joins the entry's directory instead of replacing it, so tasks
    still start, under the entry, with both entries on ``sys.path``."""
    code = (
        "import json, sys\n"
        "from annotation_service_spark import session\n"
        f"extra = {str(tmp_path)!r}\n"
        "s = session.get_session(app_name='extra_path',"
        " extra_conf={'spark.executorEnv.PYTHONPATH': extra})\n"
        "def probe(batches):\n"
        "    import sys, zipimport\n"
        "    import pandas as pd\n"
        "    for _ in batches:\n"
        "        yield pd.DataFrame({'m': [zipimport.zipimporter.invalidate_caches.__module__],\n"
        "                            'p': [json.dumps(sys.path)]})\n"
        "row = s.range(1, numPartitions=1).mapInPandas(probe, 'm string, p string').first()\n"
        "print(json.dumps([session.WORKER_DIR, extra, row.m, json.loads(row.p)]))\n"
        "s.stop()\n"
    )
    out = _run(code, SPARK_GRAFT_CPUS="2")
    assert out.returncode == 0, out.stderr[-2000:]
    worker_dir, extra, module, path = json.loads(out.stdout.splitlines()[-1])
    assert module == "pyspark_graft_worker"
    assert worker_dir in path and extra in path


def test_worker_entry_rereads_a_zip_only_when_it_changed(tmp_path):
    """No Spark: a subprocess imports the entry module (keeping its patch
    out of this process), imports from a zip, rewrites the zip with a new
    member and imports that, then counts directory reads on an unchanged
    zip."""
    code = (
        "import importlib, sys, zipfile, zipimport\n"
        "from annotation_service_spark import session\n"
        "sys.path.insert(0, session.WORKER_DIR)\n"
        "import pyspark_graft_worker\n"
        f"z = {str(tmp_path / 'mods.zip')!r}\n"
        "def write(members):\n"
        "    with zipfile.ZipFile(z, 'w') as f:\n"
        "        for m in members:\n"
        "            f.writestr(m + '.py', f'NAME = {m!r}\\n')\n"
        "write(['zip_mod_a'])\n"
        "sys.path.insert(0, z)\n"
        "import zip_mod_a\n"
        "write(['zip_mod_a', 'zip_mod_b'])\n"
        "importlib.invalidate_caches()\n"
        "import zip_mod_b\n"
        "reads = []\n"
        "read = zipimport._read_directory\n"
        "zipimport._read_directory = lambda a: reads.append(a) or read(a)\n"
        "importlib.invalidate_caches()\n"
        "print(zip_mod_a.NAME, zip_mod_b.NAME, len(reads))\n"
    )
    out = _run(code)
    assert out.returncode == 0, out.stderr[-2000:]
    assert out.stdout.split() == ["zip_mod_a", "zip_mod_b", "0"]


def test_zip_added_mid_session_imports_in_a_later_task(spark, tmp_path):
    """A zip that ``addPyFile`` ships after Python workers have run tasks
    gets its own importer in those reused workers, so a later task
    imports from it."""

    def ident(batches):
        yield from batches

    spark.range(4, numPartitions=4).mapInPandas(ident, "id long").count()
    z = tmp_path / "late_added_mods.zip"
    with zipfile.ZipFile(z, "w") as f:
        f.writestr("late_added_mod.py", "VALUE = 41 + 1\n")
    spark.sparkContext.addPyFile(str(z))

    def use_late(batches):
        import late_added_mod

        import pandas as pd

        for b in batches:
            yield pd.DataFrame({"v": [late_added_mod.VALUE] * len(b)})

    rows = spark.range(8, numPartitions=4).mapInPandas(use_late, "v long").collect()
    assert [r.v for r in rows] == [42] * 8
