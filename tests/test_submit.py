"""spark-submit --py-files deployment smoke (the north rule's launch mode).

Builds the package zip, then runs the real ``spark-submit`` binary with
``--py-files`` against a tiny parquet corpus — proving the zip is a
sufficient unit of deployment (no repo checkout on the "cluster").
"""

import json
import os
import shutil
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SUBMIT = shutil.which("spark-submit")


def test_build_zip(tmp_path):
    from tools.submit_job import build_zip
    import zipfile

    dest = build_zip(str(tmp_path / "gencore_spark.zip"))
    names = zipfile.ZipFile(dest).namelist()
    assert "gencore_spark/__init__.py" in names
    assert "gencore_spark/pipeline.py" in names
    assert not any("__pycache__" in n for n in names)


@pytest.mark.skipif(SUBMIT is None, reason="spark-submit not on PATH")
def test_spark_submit_py_files(spark, tmp_path):
    from gencore_spark.fixtures import pages_with_truth, PAGES_COLUMNS
    from tools.submit_job import build_zip

    pages_dir = str(tmp_path / "pages")
    full, _ = pages_with_truth(spark, 300)
    full.select(*PAGES_COLUMNS).write.parquet(pages_dir)
    zip_path = build_zip(str(tmp_path / "gencore_spark.zip"))

    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            SUBMIT, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            "--input", pages_dir,
            "--workdir", str(tmp_path / "work"),
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),  # NOT the repo: the zip must be self-sufficient
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    line = [l for l in proc.stdout.splitlines() if l.startswith("{")][-1]
    out = json.loads(line)
    assert 0 < out["canonical_docs"] <= 300
    # the submit front door must carry the benchmarked session settings
    # (PIPELINE_CONFS) — a cluster run may not silently diverge from the
    # verified local configuration (ADVICE r2)
    assert out["codec"] == "zstd"
    assert out["session_tz"] == "UTC"

    # incremental front door: re-deliver the same corpus as the delta
    # against the state just written — a pure no-op merge, same count
    proc2 = subprocess.run(
        [
            SUBMIT, "--master", "local[4]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            "--input", pages_dir,
            "--state-dir", str(tmp_path / "work"),
            "--workdir", str(tmp_path / "work2"),
        ],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path),
        env=env,
    )
    assert proc2.returncode == 0, proc2.stderr[-3000:]
    line2 = [l for l in proc2.stdout.splitlines() if l.startswith("{")][-1]
    out2 = json.loads(line2)
    assert out2["canonical_docs"] == out["canonical_docs"]
    assert os.path.exists(str(tmp_path / "work2" / "REPORT.json"))


def test_jvm_sizing_policy():
    """Width-sized JVM policy (BENCH/BASELINE.md heap ladders): heap =
    2g/core clamped [4g, 16g]; ParallelGCThreads = min(width, 8).  Pinned
    so a config regression (e.g. a fixed giant local heap reappearing)
    fails loudly — at 32 cores that config measured 2.2x the wall."""
    from gencore_spark.session import _jvm_sizing

    assert _jvm_sizing(1) == ("4g", "-XX:+UseParallelGC -XX:ParallelGCThreads=1")
    assert _jvm_sizing(2) == ("4g", "-XX:+UseParallelGC -XX:ParallelGCThreads=2")
    assert _jvm_sizing(8) == ("16g", "-XX:+UseParallelGC -XX:ParallelGCThreads=8")
    assert _jvm_sizing(32) == ("16g", "-XX:+UseParallelGC -XX:ParallelGCThreads=8")
