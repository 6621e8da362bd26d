"""The r8 mmap_lock fixes: the package exports the glibc malloc
tunables at import, before any JVM launches (large transient buffers —
broadcast hash relations, direct I/O — otherwise mmap/munmap per
alloc/free and serialize all task threads on the kernel's mmap_lock;
measured as random multi-second per-query stalls at local[32]), and
storage block reads must not memory-map at the default 2 MiB
threshold."""

from __future__ import annotations

import os
import subprocess
import sys

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
