"""Python workers import the driver's pyspark, not Spark's zip archives.

``get_spark`` starts workers from :mod:`osdocr_spark.spark.daemon`, which
drops ``pyspark.zip``, ``py4j-*.zip`` and ``spark-core_*.jar`` from
``sys.path`` so no task pays to rescan them. These tests pin the worker
state, the path filter and its fallback, and the launch from outside the
checkout that needs ``spark.executorEnv.PYTHONPATH``.
"""

import glob
import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, REPO)

from osdocr_spark.spark.daemon import without_spark_archives  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    from osdocr_spark.spark.session import get_spark
    s = get_spark(cpus=8, shuffle_partitions=8)
    s.sparkContext.setLogLevel("ERROR")
    yield s


def test_workers_import_the_drivers_pyspark(spark):
    import pyspark

    def report(batches):
        import os, sys, zipimport
        import pandas as pd
        import pyspark

        def is_spark_archive(p):
            b = os.path.basename(p)
            return (b == "pyspark.zip" or (b.startswith("py4j-") and b.endswith(".zip"))
                    or (b.startswith("spark-core_") and b.endswith(".jar")))

        for _ in batches:
            pass
        yield pd.DataFrame({
            "file": [pyspark.__file__], "version": [pyspark.__version__],
            "zipimporters": [sum(isinstance(v, zipimport.zipimporter)
                                 for v in sys.path_importer_cache.values())],
            "archives": [sum(is_spark_archive(p) for p in sys.path)]})

    rows = (spark.range(64).repartition(4)
            .mapInPandas(report, "file string, version string, zipimporters long, archives long")
            .collect())
    assert rows
    for r in rows:
        assert r.file == pyspark.__file__
        assert r.version == spark.version
        assert r.zipimporters == 0
        assert r.archives == 0


def test_archive_filter_drops_only_sparks_own():
    path = ["/spark/python/lib/pyspark.zip", "/jobs/deps.zip",
            "/spark/python/lib/py4j-0.10.9.9-src.zip", "/work/repo",
            "/usr/lib/python311.zip", "/spark/jars/spark-core_2.13-4.1.2.jar",
            "/jobs/mypyspark.zip", "/usr/lib/python3.11", ""]
    assert without_spark_archives(path) == [
        "/jobs/deps.zip", "/work/repo", "/usr/lib/python311.zip",
        "/jobs/mypyspark.zip", "/usr/lib/python3.11", ""]
    assert without_spark_archives([]) == []


_IMPORT_PROBE = """
import json, sys, zipimport
before = list(sys.path)
from osdocr_spark.spark.daemon import import_daemon
daemon = import_daemon()
print(json.dumps({"before": before, "after": sys.path, "daemon": daemon.__name__,
                  "files": sorted(getattr(m, "__file__", None) or "" for n, m in sys.modules.items()
                                  if n.split(".")[0] in ("pyspark", "py4j")),
                  "zipimporters": sorted(k for k, v in sys.path_importer_cache.items()
                                         if isinstance(v, zipimport.zipimporter))}))
"""


@pytest.mark.parametrize("site,python_dir", [(True, False), (False, False), (False, True)],
                         ids=["site-packages", "no-site", "no-site+spark-python-dir"])
def test_import_daemon_drops_archives_or_restores_them(site, python_dir, tmp_path):
    """With site-packages the archives go and pyspark comes from the
    interpreter. Without it (``-S``) pyspark is importable only with the
    archives, so they go back in place and every pyspark module loads from
    them, even when ``$SPARK_HOME/python`` let the first attempt get as far
    as ``import py4j``."""
    spark_python = os.path.join(os.environ.get("SPARK_HOME", "/nonexistent"), "python")
    pyspark_zip = os.path.join(spark_python, "lib", "pyspark.zip")
    archives = glob.glob(pyspark_zip) + glob.glob(os.path.join(spark_python, "lib", "py4j-*.zip"))
    if len(archives) != 2 or not os.path.isdir(os.path.join(spark_python, "pyspark")):
        pytest.skip("no pyspark.zip, py4j zip and pyspark/ under $SPARK_HOME/python")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYTHONPATH"] = os.pathsep.join(archives + [spark_python] * python_dir + [REPO])
    env["PYTHONDONTWRITEBYTECODE"] = "1"
    proc = subprocess.run([sys.executable] + ["-S"] * (not site) + ["-c", _IMPORT_PROBE],
                          capture_output=True, text=True, timeout=120, env=env,
                          cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-2000:]
    got = json.loads(proc.stdout.strip().splitlines()[-1])
    assert got["daemon"] == "pyspark.daemon" and got["files"]
    from_archives = [f.startswith(tuple(archives)) for f in got["files"]]
    if site:
        assert got["after"] == [p for p in got["before"] if p not in archives]
        assert not any(from_archives)
        assert got["zipimporters"] == []
    else:
        assert got["after"] == got["before"]
        assert all(from_archives)


_OUTSIDE_DRIVER = """
import sys
sys.path.insert(0, sys.argv[1])
from osdocr_spark.spark.session import get_spark

def double(batches):
    for b in batches:
        yield b.assign(id=b["id"] * 2)

spark = get_spark(cpus=2, shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
rows = spark.range(10).repartition(2).mapInPandas(double, "id long").collect()
print("ROWS", sorted(r.id for r in rows))
"""


def test_driver_outside_the_checkout(tmp_path):
    """A driver started away from the checkout with no PYTHONPATH: workers
    find the daemon module only through ``spark.executorEnv.PYTHONPATH``."""
    script = tmp_path / "outside_driver.py"
    script.write_text(_OUTSIDE_DRIVER)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run([sys.executable, str(script), REPO], capture_output=True,
                          text=True, timeout=300, cwd=str(tmp_path), env=env)
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = [l for l in proc.stdout.splitlines() if l.startswith("ROWS")]
    assert out == ["ROWS " + str([2 * i for i in range(10)])]
