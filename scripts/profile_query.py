#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

Times named registry queries in isolation (same session bootstrap as
bench.py), printing per-run wall seconds, the number of Spark jobs the
query submitted, and optionally the formatted plan. Usage:

    python scripts/profile_query.py [--explain DIR] [--reps N] q1 q2 ...
    python scripts/profile_query.py --layers [q1 ...]

Timing methodology matches bench.py (collect() the query's DataFrame,
clear caches + persistent RDDs between runs). Jobs are counted via the
status tracker's job-id watermark, which includes every job the runner
submits while building the DataFrame (checkpoints, counts) plus the
final collect — the per-job floor is the thing the iterative operators
pay at fixture scale, so the count is the signal. ``build_jobs`` is the
part of ``jobs`` submitted before the runner returned its DataFrame
(eager checkpoints, counts, and the shuffle-map stages that a lazy
checkpoint of a plan with an exchange runs under AQE). Each query ends
with a summary line: the min-max job count over the reps (it can vary
from rep to rep; compare two checkouts by these ranges) and the median
total time of the warm reps (every rep after the first).

Saved plans are normalized so that plan directories written by two
checkouts (or two runs) diff byte-for-byte: expression ids (``#123``),
the RDD ids behind ``Scan ExistingRDD`` (``MapPartitionsRDD[1262]``)
and exchange ``plan_id``s count up across the session; codegen-stage
and AQE query-stage ids follow the order in which sibling stages
happen to run; the load_tables materialization directory has a random
name. All of these are blanked.

``--layers`` prints one line per persisted index layer after
load_tables: row count, md5 over the sorted per-row md5s of the rows'
JSON, and the schema. Two checkouts whose layers hold the same rows
print the same lines.

Checkpoints are counted by wrapping ``DataFrame.localCheckpoint`` in
this process only; a call site is the first caller frame outside
pyspark and ``kektordb_spark/lineage.py``.

Every rep line also carries ``micro_batches=`` and
``stream_input_rows=``: the progress events and input rows of the
streaming queries the rep ran, counted by perfbench's
StreamingQueryListener (``probes.StreamCounter``; 0 for a batch
query), so two checkouts can compare every streaming query's
micro-batching.
"""

from __future__ import annotations

import collections
import os
import re
import statistics
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)
sys.path.insert(0, os.path.join(ROOT, "perfbench"))

from probes import StreamCounter

from kektordb_spark.plans import registry
from kektordb_spark.session import get_spark


_SESSION_COUNTERS = [
    (re.compile(r"#\d+L?"), "#"),
    (re.compile(r"(\w*RDD)\[\d+\]"), r"\1[]"),
    (re.compile(r"plan_id=\d+"), "plan_id="),
    (re.compile(r"kektordb_mat_\w+"), "kektordb_mat_"),
    (re.compile(r"\[codegen id : \d+\]"), "[codegen id]"),
    (re.compile(r"(QueryStage\n(?:Output [^\n]*\n)?Arguments: )\d+"), r"\1"),
]


def normalize_plan(plan: str) -> str:
    """Blank the session-global counters in a formatted plan."""
    for pat, repl in _SESSION_COUNTERS:
        plan = pat.sub(repl, plan)
    return plan


CHECKPOINTS: collections.Counter = collections.Counter()  # (site, eager) -> calls


def layer_lines(spark) -> list[str]:
    """``name rows=N md5=... schema=...`` for every index layer of the
    last load_tables build, by name."""
    from pyspark.sql import functions as F

    from kektordb_spark.tables import LAYER_TIMES

    lines = []
    for name in sorted(LAYER_TIMES):
        df = spark.table(name)
        row_md5 = F.md5(F.to_json(F.struct(*df.columns)))
        n, digest = df.select(row_md5.alias("h")).agg(
            F.count("*"),
            F.md5(F.array_join(F.array_sort(F.collect_list("h")), "")),
        ).first()
        lines.append(f"{name} rows={n} md5={digest} "
                     f"schema={df.schema.simpleString()}")
    return lines


def _count_checkpoints(cls: type) -> None:
    """Wrap ``cls.localCheckpoint`` to tally calls by site and mode."""
    inner = cls.localCheckpoint

    def counted(self, eager=True, *args, **kwargs):
        site = "?"
        for frame in reversed(traceback.extract_stack()[:-1]):
            f = frame.filename
            if "pyspark" not in f and not f.endswith("lineage.py"):
                site = f"{os.path.relpath(f)}:{frame.lineno}"
                break
        CHECKPOINTS[(site, bool(eager))] += 1
        return inner(self, eager, *args, **kwargs)

    cls.localCheckpoint = counted


def _ckpt_mark() -> tuple[int, int]:
    lazy = sum(n for (_, e), n in CHECKPOINTS.items() if not e)
    return lazy, sum(CHECKPOINTS.values()) - lazy


def _ckpt_since(mark: tuple[int, int]) -> str:
    lazy, eager = _ckpt_mark()
    return f"ckpt_lazy={lazy - mark[0]} ckpt_eager={eager - mark[1]}"


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    suffix = "before"
    reps = 2
    names: list[str] = []
    run_all = False
    layers = False
    it = iter(args)
    for a in it:
        if a == "--all":
            run_all = True
        elif a == "--layers":
            layers = True
        elif a == "--explain":
            explain_dir = next(it)
        elif a == "--suffix":
            suffix = next(it)
        elif a == "--reps":
            reps = int(next(it))
        else:
            names.append(a)

    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = int(os.environ.get("SPARK_GRAFT_CPUS", "32"))
    spark = get_spark("kektordb-profile", cpus=cpus)
    spark.sparkContext.setLogLevel("ERROR")
    tracker = spark.sparkContext.statusTracker()
    _count_checkpoints(type(spark.range(0)))
    progress = StreamCounter()
    spark.streams.addListener(progress)
    bus = spark.sparkContext._jsc.sc().listenerBus()

    def stream_mark() -> tuple[int, int]:
        bus.waitUntilEmpty()  # progress events arrive on the bus thread
        t = progress.totals()
        return t["micro_batches"], t["input_rows"]

    def job_mark() -> int:
        jobs = tracker.getJobIdsForGroup(None)
        return max(jobs) if jobs else -1

    from kektordb_spark.tables import load_tables

    hi0, ck0 = job_mark(), _ckpt_mark()
    t0 = time.perf_counter()
    load_tables(spark, sf_dir)
    print(
        f"load_tables: total={time.perf_counter() - t0:.3f}s "
        f"jobs={job_mark() - hi0} {_ckpt_since(ck0)}"
    )
    if layers:
        print("\n".join(layer_lines(spark)))
    spark.sql("SELECT count(*) FROM lineitem").collect()
    spark.range(8).mapInPandas(lambda it: it, "id long").collect()
    spark.sql("SELECT count(*) FROM docs_tok_par WHERE size(toks) >= 0").collect()
    spark.sql(
        "SELECT count(*) FROM emb WHERE aggregate(v, CAST(0.0 AS DOUBLE), (s, x) -> s + x) > -1e18"
    ).collect()
    spark.sql(
        "SELECT count(*) FROM emb WHERE aggregate(zip_with(v, v, "
        "(x, y) -> (x - y) * (x - y)), CAST(0.0 AS DOUBLE), (s, p) -> s + p) >= 0"
    ).collect()

    queries = registry.queries()
    if run_all:
        names = sorted(queries)

    for name in names:
        if name not in queries:
            print(f"{name}: NOT REGISTERED")
            continue
        totals, jobs = [], []
        for rep in range(reps):
            hi0, ck0, st0 = job_mark(), _ckpt_mark(), stream_mark()
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t_build = time.perf_counter() - t0
            build_jobs = job_mark() - hi0
            df.collect()
            t_total = time.perf_counter() - t0
            totals.append(t_total)
            jobs.append(job_mark() - hi0)
            st1 = stream_mark()
            print(
                f"{name} rep{rep}: total={t_total:.3f}s build={t_build:.3f}s "
                f"jobs={jobs[-1]} build_jobs={build_jobs} "
                f"{_ckpt_since(ck0)} micro_batches={st1[0] - st0[0]} "
                f"stream_input_rows={st1[1] - st0[1]}"
            )
            if explain_dir and rep == 0:
                os.makedirs(explain_dir, exist_ok=True)
                path = os.path.join(explain_dir, f"{name}_{suffix}.txt")
                with open(path, "w") as fh:
                    fh.write(normalize_plan(df._sc._jvm.PythonSQLUtils.explainString(
                        df._jdf.queryExecution(), "formatted")))
                print(f"  plan -> {path}")
            spark.catalog.clearCache()
            for jrdd in list(
                spark.sparkContext._jsc.getPersistentRDDs().values()
            ):
                jrdd.unpersist()
        warm = (f"{statistics.median(totals[1:]):.3f}s" if reps > 1
                else "n/a")
        print(f"{name} summary: jobs={min(jobs)}-{max(jobs)} "
              f"warm_median={warm} reps={reps}")

    lazy, eager = _ckpt_mark()
    sites = {site for site, _ in CHECKPOINTS}
    print(f"checkpoints: {lazy + eager} calls at {len(sites)} sites ({eager} eager)")


if __name__ == "__main__":
    main()
