"""The Python worker daemon (``homonim_spark.pydaemon``) and the session
settings that cut per-query fixed cost.

- The patched ``zipimporter.invalidate_caches`` reads an archive's
  directory once, and again only after the archive changed.
- Spark's workers run under the patched importer.
- The daemon setting fails open: a UDF still runs when the driver has the
  engine only on ``sys.path`` and runs from another working directory.
- With the codegen cache sized by ``session.get_spark``, a second run of
  the same queries compiles no class.
"""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from homonim_spark import pydaemon
from homonim_spark.session import CODEGEN_CACHE_ENTRIES

ROOT = Path(__file__).resolve().parents[1]
#: the daemon patches the importer only where it re-reads eagerly
eager_zip_reads = pytest.mark.skipif(
    sys.version_info >= (3, 13),
    reason="Python 3.13 re-reads zip directories lazily; the daemon leaves it")


def _write_zip(path, modules):
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


@eager_zip_reads
def test_invalidate_caches_rereads_only_a_changed_archive(tmp_path, monkeypatch):
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(str(archive))
    reads = []
    real = zipimport._read_directory
    monkeypatch.setattr(zipimport, "_read_directory",
                        lambda path: reads.append(path) or real(path))

    pydaemon.invalidate_caches(importer)
    pydaemon.invalidate_caches(importer)
    assert reads == [str(archive)]
    assert importer.find_spec("b") is None

    _write_zip(archive, ["a", "b"])
    pydaemon.invalidate_caches(importer)
    assert reads == [str(archive)] * 2
    spec = importer.find_spec("b")
    module = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(module)
    assert module.NAME == "b"


@eager_zip_reads
def test_spark_workers_run_the_patched_importer(spark):
    assert spark.sparkContext.getConf().get("spark.python.daemon.module") == \
        "homonim_spark.pydaemon"

    def where(batches):
        import zipimport
        code = zipimport.zipimporter.invalidate_caches.__code__
        for pdf in batches:
            yield pdf.assign(file=code.co_filename, fn=code.co_name)

    rows = spark.range(2).mapInPandas(where, "id long, file string, fn string").collect()
    assert {(Path(r.file).name, r.fn) for r in rows} == {("pydaemon.py", "invalidate_caches")}


JOB = """
import sys
sys.path.insert(0, {root!r})
from homonim_spark.session import get_spark

spark = get_spark(master="local[2]", shuffle_partitions=2)

def double(batches):
    import numpy as np
    for pdf in batches:
        yield pdf.assign(id=np.asarray(pdf["id"]) * 2)

rows = spark.range(5).mapInPandas(double, "id long").collect()
print("RESULT", sorted(r.id for r in rows))
spark.stop()
"""


def test_udf_runs_with_engine_only_on_sys_path_from_another_cwd(tmp_path):
    job = tmp_path / "job.py"
    job.write_text(JOB.format(root=str(ROOT)))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(PYSPARK_PYTHON=sys.executable, SPARK_GRAFT_DRIVER_MEM="1g")
    r = subprocess.run([sys.executable, str(job)], cwd=str(tmp_path), env=env,
                       capture_output=True, text=True, timeout=300)
    assert r.returncode == 0, r.stderr[-2500:]
    assert "RESULT [0, 2, 4, 6, 8]" in r.stdout, r.stdout[-1000:]


def test_warm_queries_compile_no_codegen_class(spark, tmp_path):
    """The bench suite leaves compile more classes than Spark's default
    cache of 100 holds, so without the sized cache every pass recompiles."""
    import __spark_entry__ as entry
    from bench import SUITE
    from perfbench.fixtures import write_relational_tables

    sf_dir = str(tmp_path / "sf")
    write_relational_tables(sf_dir, seed=1, sf=0.001)
    compiles = (spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
                .METRIC_COMPILATION_TIME())
    qs = entry.queries()

    def run_leaves():
        before = compiles.getCount()
        for name in SUITE:
            qs[name](spark, sf_dir).collect()
        return compiles.getCount() - before

    assert spark.conf.get("spark.sql.codegen.cache.maxEntries") == \
        str(CODEGEN_CACHE_ENTRIES)
    assert spark.sparkContext.getConf().get("spark.ui.showConsoleProgress") == "false"
    run_leaves()  # about 136 classes on a fresh session
    assert run_leaves() == 0
