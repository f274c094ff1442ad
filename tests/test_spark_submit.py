"""North-rule evidence: the engine runs via ``spark-submit
--py-files pg_textsearch_spark.zip`` with NO repo on sys.path — the
deployment story for a real cluster. The submitted job builds an
index over a small corpus and runs a BM25 top-k; the test asserts the
printed result matches the in-process engine."""

import json
import os
import shutil
import subprocess
import sys

import pyspark
import pytest

_JOB = """
import json, sys
from pyspark.sql import SparkSession
spark = (
    SparkSession.builder.master("local[4]")
    .config("spark.sql.shuffle.partitions", "8")
    .config("spark.ui.enabled", "false")
    .getOrCreate()
)
spark.sparkContext.setLogLevel("ERROR")
# package must come from --py-files, not a checkout on sys.path
import pg_textsearch_spark
assert ".zip" in pg_textsearch_spark.__file__, pg_textsearch_spark.__file__
from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.operators.topk import BM25Index
from pg_textsearch_spark.operators.bmw import topk_bmw

out_dir, sf_dir = sys.argv[1], sys.argv[2]
docs = spark.read.parquet(sf_dir + "/documents.parquet")
build_index(spark, docs, out_dir, config="ascii", n_buckets=4)
idx = BM25Index(spark, out_dir)
rows = [
    (r["rank"], r["doc_id"], round(r["score"], 6))
    for r in topk_bmw(idx, "spark query table", k=5).collect()
]
print("RESULT:" + json.dumps(rows))
spark.stop()
"""


def test_spark_submit_pyfiles_deployment(tmp_path, spark):
    from pg_textsearch_spark.index.builder import build_index
    from pg_textsearch_spark.operators.bmw import topk_bmw
    from pg_textsearch_spark.operators.topk import BM25Index
    from pg_textsearch_spark.shipping import build_pyfiles_zip

    spark_submit = os.path.join(
        os.path.dirname(pyspark.__file__), "bin", "spark-submit"
    )
    if not os.path.exists(spark_submit):
        pytest.skip("spark-submit not available")

    zip_path = build_pyfiles_zip(str(tmp_path / "pg_textsearch_spark.zip"))
    job_path = str(tmp_path / "job.py")
    with open(job_path, "w") as f:
        f.write(_JOB)

    sf_dir = "/root/testdata/sf0.001"
    out_dir = str(tmp_path / "submit_idx")
    # scrub the repo from the child's import path: the package must
    # resolve from the shipped zip alone
    env = {
        k: v
        for k, v in os.environ.items()
        if k not in ("PYTHONPATH", "SPARK_HOME")
    }
    env["PYSPARK_PYTHON"] = sys.executable
    proc = subprocess.run(
        [spark_submit, "--py-files", zip_path, job_path, out_dir, sf_dir],
        capture_output=True,
        text=True,
        timeout=600,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    got = [tuple(r) for r in json.loads(line[0][len("RESULT:"):])]

    # same corpus, in-process engine
    d = str(tmp_path / "local_idx")
    docs = spark.read.parquet(sf_dir + "/documents.parquet")
    build_index(spark, docs, d, config="ascii", n_buckets=4)
    idx = BM25Index(spark, d)
    want = [
        (r["rank"], r["doc_id"], round(r["score"], 6))
        for r in topk_bmw(idx, "spark query table", k=5).collect()
    ]
    assert got == want
    shutil.rmtree(out_dir, ignore_errors=True)


_LIBRARY_SCRIPT = """
import json, sys
sys.path.insert(0, sys.argv[1])  # the checkout, on the driver's path only
from pg_textsearch_spark.index.builder import build_index
from pg_textsearch_spark.operators.topk import BM25Index, topk_batch
from pg_textsearch_spark.session import get_spark

spark = get_spark(master="local[1]", shuffle_partitions=2)
spark.sparkContext.setLogLevel("ERROR")
docs = spark.createDataFrame(
    [(0, "spark query table"), (1, "window join spark")],
    "doc_id long, text string",
)
build_index(spark, docs, sys.argv[2], config="ascii", n_buckets=2)
rows = topk_batch(BM25Index(spark, sys.argv[2]), {"q": "spark window"}, k=5)
print("RESULT:" + json.dumps([r["doc_id"] for r in rows.collect()]))
spark.stop()
"""


def test_library_ships_itself_to_workers(tmp_path):
    """A script that imports the package from a checkout on its own
    sys.path, run from another directory, builds and queries without
    calling ``ensure_shipped``: the library ships itself to Spark's
    Python workers, which could not import it otherwise."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "script.py"
    script.write_text(_LIBRARY_SCRIPT)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["SPARK_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(script), repo, str(tmp_path / "idx")],
        capture_output=True, text=True, timeout=600, cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("RESULT:")]
    assert line, proc.stdout[-2000:]
    # doc 1 matches both terms, doc 0 only "spark"
    assert json.loads(line[0][len("RESULT:"):]) == [1, 0]


_ZIP_SCRIPT = """
import json, os, sys
sys.path.insert(0, sys.argv[1])
from pg_textsearch_spark import shipping


class Context:  # records what ensure_shipped hands to addPyFile
    def addPyFile(self, path):
        print("ZIP:" + json.dumps([path, os.path.isfile(path)]))


class Session:
    sparkContext = Context()


shipping.ensure_shipped(Session())
"""


def test_shipping_zip_under_tmpdir_removed_at_exit(tmp_path):
    """``ensure_shipped`` writes its zip under the process's temp dir
    (``TMPDIR``), and the zip is gone once the process exits."""
    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = tmp_path / "ship.py"
    script.write_text(_ZIP_SCRIPT)
    tmp = tmp_path / "tmp"
    tmp.mkdir()
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["TMPDIR"] = str(tmp)
    proc = subprocess.run(
        [sys.executable, str(script), repo],
        capture_output=True, text=True, timeout=120, cwd=str(tmp_path),
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [ln for ln in proc.stdout.splitlines() if ln.startswith("ZIP:")]
    assert line, proc.stdout[-2000:]
    path, existed = json.loads(line[0][len("ZIP:"):])
    assert os.path.dirname(path) == str(tmp), path
    assert existed
    assert not os.path.exists(path)
    assert os.listdir(tmp) == []
