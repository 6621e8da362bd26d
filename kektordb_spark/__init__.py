"""kektordb_spark — a PySpark-native analytics engine with the query
capabilities of kektordb (vector search + BM25 + hybrid fusion + time-decay
memory ranking + temporal property graph + epistemic/gardener analytics),
re-expressed as Spark DataFrame/SQL programs designed for 100 TB batch scale.

Reference behavior studied from /root/reference (sanonone/kektordb v0.6.0);
all implementations here are Spark-first, not ports.
"""

import os

__version__ = "0.1.0"

# glibc malloc: by default every allocation over the (dynamic, max
# 32 MiB) mmap threshold is a fresh mmap and every free a munmap. The
# JVM's large transient buffers (broadcast hash relations, direct I/O
# buffers) then serialize all task threads on the kernel's mmap_lock
# and fault-storm newly mapped pages — measured as multi-second,
# randomly-placed per-query stalls at local[32] (76% of 32 CPUs in
# SYSTEM time mid-burst; kernel stacks full of
# vm_mmap_pgoff/__vm_munmap/exc_page_fault). Raising the threshold
# makes glibc serve and RETAIN those buffers from arena heaps (trim
# disabled, a bounded arena count); a 25-rep A/B went from bursts of
# 3-15 s to zero bursts with a ~5% better steady state. Exported at
# import, before any JVM launches, so a harness that imports the
# package and builds its own session still hands them to the gateway
# and the Python workers; deployment values win via setdefault. On a
# cluster the same knobs belong in the executor launch env
# (session.get_spark sets spark.executorEnv.*).
os.environ.setdefault("MALLOC_MMAP_THRESHOLD_", str(1 << 30))
os.environ.setdefault("MALLOC_TRIM_THRESHOLD_", "-1")
os.environ.setdefault("MALLOC_ARENA_MAX", "4")
