"""north_rule ops clause: the engine runs via ``spark-submit --py-files``.

Packages homonim_spark with tools/make_pyfiles.sh, then actually submits a
job through ``spark-submit --py-files dist/homonim_spark.zip`` in a clean
working directory (so the package can ONLY come from the zip) and checks
the job's fuse output, a ``get_spark`` session that keeps pyspark's own
worker daemon, and a pandas UDF run through it."""

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pytest

ROOT = Path(__file__).resolve().parents[1]
SPARK_SUBMIT = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"

JOB = """
import json, sys
from homonim_spark import datagen                     # from --py-files zip
from homonim_spark.operators.fuse import fuse
from homonim_spark.session import get_spark
spark = get_spark(master="local[2]", shuffle_partitions=4)
spark.sparkContext.setLogLevel("ERROR")
# the engine is a zip here, so the worker daemon stays pyspark's own
daemon = spark.sparkContext.getConf().get("spark.python.daemon.module", None)

def double(batches):
    import numpy as np
    for pdf in batches:
        yield pdf.assign(id=np.asarray(pdf["id"]) * 2)

ids = sorted(r.id for r in spark.range(3).mapInPandas(double, "id long").collect())
docs_pdf, tiles_pdf = datagen.build_pair_tables(
    datagen.RasterFixtureSpec(pair_id="sub", cells=(2, 2), tile=16, factor=2))
docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
out = fuse(docs, tiles, model="gain", kernel_shape=(3, 3))
print("RESULT " + json.dumps({"n": out.count(), "ids": ids, "daemon": daemon}))
spark.stop()
"""


@pytest.mark.skipif(not os.path.exists(SPARK_SUBMIT), reason="no spark-submit")
def test_spark_submit_pyfiles(tmp_path):
    r = subprocess.run(["bash", str(ROOT / "tools" / "make_pyfiles.sh")],
                       capture_output=True, text=True, timeout=120)
    assert r.returncode == 0, r.stderr[-1500:]
    zip_path = str(ROOT / "dist" / "homonim_spark.zip")
    assert os.path.exists(zip_path)

    job = tmp_path / "job.py"
    job.write_text(JOB)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    r = subprocess.run(
        [SPARK_SUBMIT, "--master", "local[2]",
         "--conf", "spark.sql.shuffle.partitions=4",
         "--py-files", zip_path, str(job)],
        capture_output=True, text=True, timeout=420,
        cwd=str(tmp_path), env=env)  # cwd isolation: zip is the only source
    assert r.returncode == 0, (r.stderr[-2500:], r.stdout[-500:])
    line = [l for l in r.stdout.splitlines() if l.startswith("RESULT ")]
    assert line, r.stdout[-1000:]
    assert json.loads(line[0][7:]) == {"n": 4, "ids": [0, 2, 4], "daemon": None}
