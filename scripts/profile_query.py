#!/usr/bin/env python
"""Per-query profiling harness for the optimization rounds.

Times named registry queries in isolation (same session bootstrap as
bench.py), printing per-run wall seconds, the number of Spark jobs the
query submitted, and optionally the formatted plan. Usage:

    python scripts/profile_query.py [--explain DIR] [--reps N] q1 q2 ...

Timing methodology matches bench.py (collect() the query's DataFrame,
clear caches + persistent RDDs between runs). Jobs are counted via the
status tracker's job-id watermark, which includes every job the runner
submits while building the DataFrame (checkpoints, counts) plus the
final collect — the per-job floor is the thing the iterative operators
pay at fixture scale, so the count is the signal.

Saved plans are normalized so that plan directories written by two
checkouts (or two runs) diff byte-for-byte: expression ids (``#123``),
the RDD ids behind ``Scan ExistingRDD`` (``MapPartitionsRDD[1262]``)
and exchange ``plan_id``s count up across the session; codegen-stage
and AQE query-stage ids follow the order in which sibling stages
happen to run; the load_tables materialization directory has a random
name. All of these are blanked.
"""

from __future__ import annotations

import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

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


def main() -> None:
    args = sys.argv[1:]
    explain_dir = None
    suffix = "before"
    reps = 2
    names: list[str] = []
    it = iter(args)
    for a in it:
        if a == "--explain":
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

    from kektordb_spark.tables import load_tables

    load_tables(spark, sf_dir)
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
    tracker = spark.sparkContext.statusTracker()

    for name in names:
        if name not in queries:
            print(f"{name}: NOT REGISTERED")
            continue
        for rep in range(reps):
            jobs0 = tracker.getJobIdsForGroup(None)
            hi0 = max(jobs0) if jobs0 else -1
            t0 = time.perf_counter()
            df = queries[name](spark, sf_dir)
            t_build = time.perf_counter() - t0
            df.collect()
            t_total = time.perf_counter() - t0
            jobs1 = tracker.getJobIdsForGroup(None)
            hi1 = max(jobs1) if jobs1 else -1
            print(
                f"{name} rep{rep}: total={t_total:.3f}s build={t_build:.3f}s "
                f"jobs={hi1 - hi0}"
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


if __name__ == "__main__":
    main()
