"""The north-rule launch shape, literally: ``spark-submit --py-files
osdocr_spark.zip scripts/run_extract.py`` as a subprocess — catches packaging
regressions (zip importability, script arg surface) that in-process tests
cannot."""

import json
import os
import shutil
import subprocess
import sys
import zipfile

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF = "/root/testdata/sf0.001"


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_py_files_launch(tmp_path):
    pkg_zip = str(tmp_path / "osdocr_spark.zip")
    with zipfile.ZipFile(pkg_zip, "w") as z:
        pkg = os.path.join(REPO, "osdocr_spark")
        for root, _dirs, files in os.walk(pkg):
            for f in files:
                if f.endswith(".py"):
                    p = os.path.join(root, f)
                    z.write(p, os.path.relpath(p, REPO))
    out_dir = str(tmp_path / "out")
    proc = subprocess.run(
        ["spark-submit", "--master", "local[8]", "--py-files", pkg_zip,
         os.path.join(REPO, "scripts", "run_extract.py"),
         "--input", SF, "--output", out_dir, "--partitions", "8"],
        capture_output=True, text=True, timeout=540,
        # keep the submitted job from importing the repo via inherited paths:
        # the zip must be the only way the workers see the package
        cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": ""},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    summary = json.loads(proc.stdout.strip().splitlines()[-1])
    assert summary["urls"] == 500
    assert summary["words"] > 0
    assert os.path.isdir(os.path.join(out_dir, "extracted"))
    assert os.path.isdir(os.path.join(out_dir, "metrics"))


_SUBMIT_CONF_SCRIPT = """
import json
from osdocr_spark.spark.session import get_spark
spark = get_spark()
conf = spark.sparkContext.getConf()
out = {k: conf.get(k) for k in
       ("spark.master", "spark.python.daemon.module", "spark.driver.memory")}
out["shuffle_partitions"] = spark.conf.get("spark.sql.shuffle.partitions")
print(json.dumps(out))
"""


@pytest.mark.skipif(shutil.which("spark-submit") is None,
                    reason="spark-submit not on PATH")
def test_spark_submit_keeps_master_and_session_defaults(tmp_path):
    """Under spark-submit, ``get_spark`` keeps the launch's ``--master`` and
    ``--driver-memory``, sizes shuffle partitions by the launch's cores
    rather than ``SPARK_GRAFT_CPUS``, and still applies the engine's session
    defaults (the worker daemon)."""
    script = tmp_path / "submit_conf.py"
    script.write_text(_SUBMIT_CONF_SCRIPT)
    proc = subprocess.run(
        ["spark-submit", "--master", "local[2]", "--driver-memory", "1g", str(script)],
        capture_output=True, text=True, timeout=540, cwd=str(tmp_path),
        env={**os.environ, "PYTHONPATH": REPO, "SPARK_GRAFT_CPUS": "32"},
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    conf = json.loads(proc.stdout.strip().splitlines()[-1])
    assert conf["spark.master"] == "local[2]"
    assert conf["spark.python.daemon.module"] == "osdocr_spark.spark.daemon"
    assert conf["spark.driver.memory"] == "1g"
    assert conf["shuffle_partitions"] == "8"   # max(2 cores, 8), not 32


_BUCKET_SCRIPT = """
import os, re, sys
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[8]")
         .config("spark.sql.shuffle.partitions", "8")
         .config("spark.sql.autoBroadcastJoinThreshold", "-1")  # force SMJ path
         .getOrCreate())
spark.sparkContext.setLogLevel("ERROR")
SF = "/root/testdata/sf0.001"
od = spark.read.parquet(os.path.join(SF, "orders.parquet"))
li = spark.read.parquet(os.path.join(SF, "lineitem.parquet"))
od.write.bucketBy(8, "o_orderkey").sortBy("o_orderkey").mode("overwrite").saveAsTable("od_b")
li.write.bucketBy(8, "l_orderkey").sortBy("l_orderkey").mode("overwrite").saveAsTable("li_b")
j = (spark.table("li_b").join(spark.table("od_b"),
     spark.table("li_b").l_orderkey == spark.table("od_b").o_orderkey)
     .groupBy("o_orderpriority").count())
plan = j._jdf.queryExecution().executedPlan().toString()
n_rows = j.count()
# the co-located join itself must not shuffle: the only allowed hash exchange
# is the one feeding the post-join groupBy aggregation
n_ex = len(re.findall(r"Exchange hashpartitioning", plan))
assert "SortMergeJoin" in plan, plan[:1500]
assert n_ex <= 1, plan[:3000]
print("BUCKETOK", n_rows, n_ex)
"""


def test_bucketed_join_no_shuffle(tmp_path):
    """Bucketing pins the 100 TB co-located-join story: two tables bucketed
    on the join key sort-merge-join with NO exchange on either side (runs in
    a subprocess so the derby metastore + warehouse live in tmp)."""
    script = tmp_path / "bucket_check.py"
    script.write_text(_BUCKET_SCRIPT)
    proc = subprocess.run([sys.executable, str(script)], capture_output=True,
                          text=True, timeout=540, cwd=str(tmp_path))
    assert proc.returncode == 0, proc.stderr[-2000:]
    out = [l for l in proc.stdout.splitlines() if l.startswith("BUCKETOK")]
    assert out and int(out[0].split()[1]) > 0
