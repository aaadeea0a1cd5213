"""spark-submit --py-files deployment test (the north rule's run mode).

Builds the zip artifact, then launches a REAL ``spark-submit`` child
process from a scratch cwd with the repo stripped from PYTHONPATH —
the engine is importable only through ``--py-files`` — and checks the
flagship query runs and reports rows.  This is the closest a single
host gets to proving the cluster deployment story: same launcher, same
artifact hand-off, no checkout on the "workers".
"""

import json
import os
import subprocess
import sys

import pyspark

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
SF_DIR = os.environ.get("SPARK_GRAFT_SMOKE_SF", "/root/testdata/sf0.001")


def test_make_pyfiles_deterministic(tmp_path):
    sys.path.insert(0, REPO)
    from tools.make_pyfiles import build

    z1 = build(str(tmp_path / "a.zip"))
    z2 = build(str(tmp_path / "b.zip"))
    b1, b2 = open(z1, "rb").read(), open(z2, "rb").read()
    assert b1 == b2  # byte-identical rebuilds
    import zipfile

    names = zipfile.ZipFile(z1).namelist()
    assert "osm_replication_rust_spark/__init__.py" in names
    assert "osm_replication_rust_spark/operators/spatial_join.py" in names
    assert all(n.endswith(".py") for n in names)


def test_spark_submit_pyfiles_flagship(tmp_path):
    sys.path.insert(0, REPO)
    from tools.make_pyfiles import build

    zip_path = build(str(tmp_path / "engine.zip"))
    submit = os.path.join(os.path.dirname(pyspark.__file__), "bin", "spark-submit")
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    env["PYSPARK_DRIVER_PYTHON"] = sys.executable
    proc = subprocess.run(
        [
            submit,
            "--master", "local[2]",
            "--conf", "spark.sql.shuffle.partitions=4",
            "--conf", "spark.ui.enabled=false",
            "--py-files", zip_path,
            os.path.join(REPO, "tools", "submit_job.py"),
            SF_DIR,
        ],
        cwd=str(tmp_path),  # scratch cwd: no accidental package import
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    lines = [l for l in proc.stdout.splitlines() if l.startswith("{")]
    assert lines, proc.stdout[-2000:]
    rec = json.loads(lines[0])
    assert rec["query"] == "flagship"
    assert rec["rows"] > 0
