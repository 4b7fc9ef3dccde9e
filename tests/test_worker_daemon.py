"""The Python-worker daemon's zip re-read rule: an unchanged archive is
not re-read on ``invalidate_caches()``, a rewritten one is and its new
modules import, Spark's workers still see a ``.py`` file shipped with
``addPyFile``, and a ``spark-submit --py-files`` launch from outside the
checkout starts its workers from the daemon."""

from __future__ import annotations

import os
import shutil
import subprocess
import sys
import zipfile
import zipimport
from pathlib import Path

import pytest

from ontology_learning_spark import worker_daemon as WD

ROOT = Path(__file__).resolve().parents[1]

# Source run by the tests and by the spark-submit job alike:
# ``rereads_per_task`` returns, for each of 4 tasks after a warm-up, the
# number of zip directory reads one importlib.invalidate_caches() makes
# inside the task, as pyspark's worker does before every task.
REREAD_PROBE = '''
def count_rereads(batches):
    import importlib
    import zipimport

    import pyarrow as pa

    real_read = zipimport._read_directory
    reads = []

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    zipimport._read_directory = counting_read
    try:
        importlib.invalidate_caches()
    finally:
        zipimport._read_directory = real_read
    for _ in batches:
        pass
    yield pa.RecordBatch.from_pydict({"rereads": [len(reads)]})


def rereads_per_task(spark):
    df = spark.range(0, 4, numPartitions=4)
    df.mapInArrow(lambda batches: batches, df.schema).collect()
    return [r.rereads for r in df.mapInArrow(count_rereads, "rereads long").collect()]
'''


def _write_zip(path: Path, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as z:
        for name in modules:
            z.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_import_starts_no_daemon_and_patches_nothing():
    probe = ("import zipimport, ontology_learning_spark.worker_daemon as m; "
             "print(zipimport.zipimporter.invalidate_caches is m.invalidate_caches)")
    out = subprocess.run([sys.executable, "-c", probe], cwd=ROOT, capture_output=True,
                         text=True, timeout=120)
    assert out.returncode == 0, out.stderr
    # a started daemon would print its port first and never exit
    assert out.stdout == "False\n"


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13's zipimporter.invalidate_caches only drops the cache entry")
def test_unchanged_archive_is_not_reread_and_a_rewrite_is_seen(tmp_path, monkeypatch):
    reads = []
    real_read = zipimport._read_directory

    def counting_read(archive):
        reads.append(archive)
        return real_read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting_read)
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches", WD.invalidate_caches)
    monkeypatch.setattr(WD, "_last_read", {})
    archive = tmp_path / "mods.zip"
    _write_zip(archive, ["a"])
    importer = zipimport.zipimporter(str(archive))
    assert importer.find_spec("b") is None

    reads.clear()
    importer.invalidate_caches()
    importer.invalidate_caches()
    assert len(reads) <= 1

    _write_zip(archive, ["a", "b"])
    reads.clear()
    importer.invalidate_caches()
    assert reads == [str(archive)]
    spec = importer.find_spec("b")
    assert spec is not None
    module = type(sys)("b")
    spec.loader.exec_module(module)
    assert module.NAME == "b"


def test_worker_tasks_skip_the_reread_and_still_see_shipped_files(spark, tmp_path):
    import pyarrow as pa

    # a name no module has, so that cloudpickle ships the functions by value
    probe: dict = {"__name__": "worker_daemon_reread_probe"}
    exec(REREAD_PROBE, probe)
    assert probe["rereads_per_task"](spark) == [0, 0, 0, 0]

    shipped = tmp_path / "worker_daemon_shipped_probe.py"
    shipped.write_text("VALUE = 41\n")
    spark.sparkContext.addPyFile(str(shipped))

    def use_shipped(batches):
        import worker_daemon_shipped_probe as shipped_probe

        for b in batches:
            yield pa.RecordBatch.from_pydict({"v": [shipped_probe.VALUE] * b.num_rows})

    df = spark.range(0, 4, numPartitions=4)
    assert {r.v for r in df.mapInArrow(use_shipped, "v long").collect()} == {41}


def test_py_files_launch_from_another_directory(tmp_path):
    spark_submit = shutil.which("spark-submit")
    if spark_submit is None:
        pytest.skip("spark-submit is not on PATH")
    with zipfile.ZipFile(tmp_path / "pkg.zip", "w") as z:
        for f in sorted((ROOT / "ontology_learning_spark").rglob("*.py")):
            z.write(f, f.relative_to(ROOT))
    (tmp_path / "job.py").write_text(
        "from ontology_learning_spark.session import build_session\n"
        + REREAD_PROBE
        + "\nspark = build_session(master='local[2]', shuffle_partitions=2)\n"
        "print('REREADS', rereads_per_task(spark))\n"
        "spark.stop()\n")
    # the package reaches the workers only through --py-files
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    out = subprocess.run([spark_submit, "--master", "local[2]", "--py-files", "pkg.zip", "job.py"],
                         cwd=tmp_path, env=env, capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "REREADS [0, 0, 0, 0]" in out.stdout
