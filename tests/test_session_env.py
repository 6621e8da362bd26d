"""The r8 mmap_lock fixes: the package exports the glibc malloc
tunables at import, before any JVM launches (large transient buffers —
broadcast hash relations, direct I/O — otherwise mmap/munmap per
alloc/free and serialize all task threads on the kernel's mmap_lock;
measured as random multi-second per-query stalls at local[32]), and
storage block reads must not memory-map at the default 2 MiB
threshold. And the Python daemon (kektordb_spark/pyworker.py): its zip
importers re-read an archive only when it changed, and its workers
find the package from any working directory."""

from __future__ import annotations

import importlib.util
import os
import signal
import subprocess
import sys
import zipfile
import zipimport

import pytest

MALLOC_VARS = ("MALLOC_MMAP_THRESHOLD_", "MALLOC_TRIM_THRESHOLD_", "MALLOC_ARENA_MAX")
REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _env_after_import(**preset: str) -> list[str]:
    """The malloc variables as a fresh interpreter sees them right
    after ``import kektordb_spark`` — no session, no JVM."""
    env = {k: v for k, v in os.environ.items() if k not in MALLOC_VARS}
    env.update(preset)
    code = ("import os, kektordb_spark; "
            f"print(' '.join(os.environ[v] for v in {MALLOC_VARS!r}))")
    out = subprocess.run([sys.executable, "-c", code], cwd=REPO, env=env,
                         capture_output=True, text=True, check=True).stdout
    return out.split()


def test_malloc_tunables_exported():
    assert _env_after_import() == [str(1 << 30), "-1", "4"]


def test_malloc_tunables_keep_deployment_values():
    assert _env_after_import(MALLOC_ARENA_MAX="2") == [str(1 << 30), "-1", "2"]


def test_storage_blocks_not_memory_mapped(spark):
    assert spark.conf.get("spark.storage.memoryMapThreshold") == "512m"
    # And the executor env carries the same malloc behaviour on a
    # cluster (local mode inherits the driver env instead).
    assert spark.conf.get(
        "spark.executorEnv.MALLOC_MMAP_THRESHOLD_") == str(1 << 30)


def test_zip_importer_rereads_only_a_changed_archive(tmp_path):
    """The daemon's ``zipimporter.invalidate_caches``: an unchanged
    archive is read once per importer, a rewritten one again by every
    importer of it (its new member then imports), a deleted one is
    dropped."""
    from kektordb_spark.pyworker import reread_if_changed

    archive = tmp_path / "pkg.zip"
    with zipfile.ZipFile(archive, "w") as z:
        z.writestr("kz_old.py", "X = 1\n")
    reads = []

    def reread(importer):
        reads.append(importer.archive)
        zipimport.zipimporter.invalidate_caches(importer)

    invalidate = reread_if_changed(reread)
    importers = [zipimport.zipimporter(str(archive)) for _ in range(2)]
    for _ in range(3):
        for importer in importers:
            invalidate(importer)
    assert len(reads) == 2

    with zipfile.ZipFile(archive, "a") as z:
        z.writestr("kz_new.py", "X = 2\n")
    assert importers[0].find_spec("kz_new") is None  # read before the rewrite
    for importer in importers * 2:
        invalidate(importer)
    assert len(reads) == 4
    for importer in importers:
        spec = importer.find_spec("kz_new")
        module = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(module)
        assert module.X == 2

    archive.unlink()
    invalidate(importers[0])
    assert len(reads) == 5 and importers[0].find_spec("kz_old") is None


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="3.13 re-reads zip directories lazily; no patch")
def test_python_tasks_run_the_patched_zip_importer(spark):
    def code_file(_):
        import zipimport
        yield zipimport.zipimporter.invalidate_caches.__code__.co_filename

    files = spark.sparkContext.parallelize(range(2), 2).mapPartitions(
        code_file).collect()
    assert files == [os.path.join(REPO, "kektordb_spark", "pyworker.py")] * 2


def test_pandas_udf_runs_outside_the_repo(tmp_path):
    """The Python daemon is a package module, so a session created from
    any working directory must hand its workers the package; a worker
    that cannot import its daemon module hangs the job rather than
    failing it, hence the hard timeout."""
    code = f"""
import os, sys
sys.path.insert(0, {REPO!r})
from pyspark.sql.functions import pandas_udf
from kektordb_spark.session import get_spark

spark = get_spark("cwd-probe", cpus=2)

@pandas_udf("long")
def plus1(s):
    return s + 1

rows = spark.range(4).select(plus1("id").alias("x")).collect()
print((sorted(r.x for r in rows), os.environ["PYTHONPATH"].split(os.pathsep)))
spark.stop()
"""
    env = dict(os.environ, PYTHONPATH=str(tmp_path))
    proc = subprocess.Popen([sys.executable, "-c", code], cwd=tmp_path, env=env,
                            stdout=subprocess.PIPE, stderr=subprocess.PIPE,
                            text=True, start_new_session=True)
    try:
        out, err = proc.communicate(timeout=240)
    except subprocess.TimeoutExpired:
        os.killpg(proc.pid, signal.SIGKILL)
        proc.communicate()
        pytest.fail("pandas UDF did not finish within 240 s")
    assert proc.returncode == 0, err[-2000:]
    assert out.splitlines()[-1] == str(([1, 2, 3, 4], [REPO, str(tmp_path)]))
