"""One benchmark run: session bootstrap and index build (set-up), one
untimed warm-up pass, then timed passes over the workload's op mix in a
closed loop with one client. run.py starts this in a fresh process with
its own TMPDIR and SPARK_LOCAL_DIRS and prints the result it writes.

With --trace 1 the run also makes traced passes, records spans and
counter deltas at the layer boundaries, and reports per-layer metrics.
"""

from __future__ import annotations

import argparse
import json
import os
import random
import sys
import time
import traceback
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(ROOT))

from stats import digest, geomean, median  # noqa: E402
from workloads import WORKLOADS  # noqa: E402

FIXTURE = HERE / "data" / "sf0.01"


class Runner:
    """Runs registry ops against the fixture and checks every result."""

    def __init__(self, spark, expected: dict, tracer):
        from kektordb_spark.plans import registry

        self.spark = spark
        self.queries = registry.queries()
        self.expected = expected
        self.tracer = tracer
        self.failures: list[str] = []

    def run(self, op: str) -> dict:
        """Build and collect one op. Returns its timings and whether its
        result matched the oracle-derived expectation."""
        t = time.perf_counter
        rec = {"op": op, "ok": False, "s": 0.0, "build_s": 0.0, "collect_s": 0.0}
        try:
            with self.tracer.span(f"op.{op}"):
                a = t()
                with self.tracer.span("registry.build"):
                    df = self.queries[op](self.spark, str(FIXTURE))
                b = t()
                with self.tracer.span("registry.collect"):
                    rows = df.collect()
                c = t()
            rec.update(s=c - a, build_s=b - a, collect_s=c - b)
            got = digest(rows, df.columns)
            want = self.expected[op]
            rec["ok"] = got == (want["rows"], want["digest"])
            if not rec["ok"]:
                print(f"[perfbench] {op}: result mismatch, {got[0]} rows vs "
                      f"{want['rows']} expected", file=sys.stderr)
        except Exception:  # an op that raises counts as failed; the run goes on
            traceback.print_exc()
        finally:
            # No cross-op residue: drop cached relations and the
            # localCheckpoint RDDs an op materialized (as bench.py does).
            self.spark.catalog.clearCache()
            for jrdd in list(self.spark.sparkContext._jsc.getPersistentRDDs().values()):
                jrdd.unpersist()
        if not rec["ok"]:
            self.failures.append(op)
        return rec


def run_pass(runner: Runner, ops, rng: random.Random, hook=None) -> tuple[float, list[dict]]:
    order = list(ops)
    rng.shuffle(order)
    t0 = time.perf_counter()
    recs = []
    for op in order:
        if hook is not None:
            hook.before()
        recs.append(runner.run(op))
        if hook is not None:
            hook.after(recs[-1])
    return time.perf_counter() - t0, recs


def timed_passes(runner, ops, rng, seconds: float, hook=None) -> list[tuple[float, list[dict]]]:
    """Whole passes within a window of `seconds`: at least one, and no
    further pass that the mean pass time says would end after the window."""
    out = []
    t0 = time.perf_counter()
    while not out or (time.perf_counter() - t0) * (len(out) + 1) / len(out) <= seconds:
        out.append(run_pass(runner, ops, rng, hook))
    return out


def end_to_end(setup_s: float, passes) -> dict[str, float]:
    samples = [r for _, recs in passes for r in recs if r["ok"]]
    by_op: dict[str, list[float]] = {}
    for r in samples:
        by_op.setdefault(r["op"], []).append(r["s"])
    return {
        "setup_s": setup_s,
        "pass_s": median(w for w, _ in passes),
        "op_p50_s": median(r["s"] for r in samples),
        "op_geomean_s": geomean(median(v) for v in by_op.values()),
    }


class TraceHook:
    """Counter deltas around each op of a traced pass."""

    def __init__(self, spark_counters, proc, stream):
        self.sc, self.proc, self.stream = spark_counters, proc, stream
        self.ops: list[dict] = []
        self.probe_s = 0.0

    def before(self) -> None:
        t = time.perf_counter()
        self._s0 = self.sc.snapshot()
        self._p0 = self.proc.sample()
        self._m0 = self.stream.totals()
        self.probe_s += time.perf_counter() - t

    def after(self, rec: dict) -> None:
        t = time.perf_counter()
        s1 = self.sc.snapshot()
        p1 = self.proc.sample()
        d = {k: s1[k] - self._s0[k] for k in s1 if k != "last_job"}
        d["jobs"] = s1["last_job"] - self._s0["last_job"]
        d.update(self.sc.op_stages(self._s0["last_job"] + 1, s1["last_job"]))
        d.update({k: p1[k] - self._p0[k] for k in p1})
        d.update({k: v - self._m0[k] for k, v in self.stream.totals().items()})
        d.update(op=rec["op"], s=rec["s"], build_s=rec["build_s"], collect_s=rec["collect_s"])
        self.ops.append(d)
        self.probe_s += time.perf_counter() - t


def per_pass_layers(ops: list[dict], wall: float, cores: int) -> dict[str, float]:
    tot = lambda k: sum(o[k] for o in ops)  # noqa: E731
    busy_s = tot("task_busy_ms") / 1000.0
    return {
        "registry.build_s": tot("build_s"),
        "registry.collect_s": tot("collect_s"),
        "spark.jobs": tot("jobs"),
        "spark.stages": tot("stages"),
        "spark.tasks": tot("tasks"),
        "spark.task_busy_s": busy_s,
        "spark.core_util": busy_s / (wall * cores),
        "spark.gc_s": tot("gc_ms") / 1000.0,
        "spark.shuffle_read_bytes": tot("shuffle_read_bytes"),
        "spark.shuffle_write_bytes": tot("shuffle_write_bytes"),
        "spark.spill_bytes": tot("spill_bytes"),
        "spark.input_bytes": tot("input_bytes"),
        "spark.failed_tasks": tot("failed_tasks"),
        "spark.task_skew": max(o["task_skew"] for o in ops),
        "spark.clipped_ops": tot("clipped"),
        "python.worker_cpu_s": tot("worker_cpu_s"),
        "streaming.micro_batches": tot("micro_batches"),
        "streaming.input_rows": tot("input_rows"),
        "streaming.state_rows": tot("state_rows"),
        "proc.cpu_s": tot("proc_cpu_s"),
    }


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--out", required=True)
    ap.add_argument("--trace-file", default=None)
    args = ap.parse_args()
    t_start = float(os.environ["PERFBENCH_T0"])  # launcher's wall clock at start
    cores = int(os.environ["SPARK_GRAFT_CPUS"])
    traced = bool(args.trace)
    ops = WORKLOADS[args.workload]
    with open(HERE / "expected.json") as fh:
        expected = json.load(fh)["ops"]
    # The fixtures are fixed inputs: the seed only orders each pass.
    rng = random.Random(args.seed)

    from probes import ProcTree, SparkCounters, StreamCounter, Tracer, host_jiffies

    tracer = Tracer(f"{args.workload}-{args.seed}-{os.getpid()}", enabled=traced)
    with tracer.span("session.get_spark"):
        from kektordb_spark.session import get_spark

        spark = get_spark("perfbench", cpus=cores)
        spark.sparkContext.setLogLevel("ERROR")
    counters = SparkCounters(spark) if traced else None
    jobs0 = counters.last_job_id() if traced else -1
    with tracer.span("tables.load_tables"):
        from kektordb_spark.tables import load_tables

        load_tables(spark, str(FIXTURE))
    setup_s = time.time() - t_start
    tracer.enabled = False

    layers: dict[str, float] = {}
    if traced:
        spans = {s["name"]: s["end"] - s["start"] for s in tracer.spans}
        index_bytes = sum(f.stat().st_size for d in Path(os.environ["TMPDIR"]).glob("kektordb_mat_*")
                          for f in d.rglob("*") if f.is_file())
        input_bytes = sum(f.stat().st_size for f in FIXTURE.glob("*.parquet"))
        layers.update({
            "session.get_spark_s": spans["session.get_spark"],
            "tables.load_tables_s": spans["tables.load_tables"],
            "tables.load_tables_jobs": counters.last_job_id() - jobs0,
            "tables.index_bytes": index_bytes,
            "tables.index_bytes_per_input_byte": index_bytes / input_bytes,
        })

    runner = Runner(spark, expected, tracer)
    others = [o for w, mix in WORKLOADS.items() if w != args.workload for o in mix]
    run_pass(runner, list(ops) + (others if traced else []), rng)  # warm-up
    warm_failures = len(runner.failures)

    passes = timed_passes(runner, ops, rng, args.seconds)
    for _, recs in passes:
        print("[perfbench] pass:", " ".join(f"{r['op']}={r['s']:.3f}" for r in recs),
              file=sys.stderr)
    attempted = sum(len(recs) for _, recs in passes)
    failed = sum(not r["ok"] for _, recs in passes for r in recs)
    metrics = end_to_end(setup_s, passes) if failed < attempted else {}

    if traced:
        proc = ProcTree(spark.sparkContext._gateway.proc.pid)
        stream = StreamCounter()
        spark.streams.addListener(stream)
        hook = TraceHook(counters, proc, stream)
        tracer.enabled = True
        j0 = host_jiffies()
        with tracer.span("traced"):
            traced_passes = timed_passes(runner, ops, rng, args.seconds, hook)
            j1 = host_jiffies()
            # Other workloads' ops once, so every traced run reports every op.
            run_pass(runner, others, rng, hook)
        n_own = sum(len(recs) for _, recs in traced_passes)
        own = hook.ops[:n_own]
        per_pass = []
        i = 0
        for wall, recs in traced_passes:
            per_pass.append(per_pass_layers(own[i:i + len(recs)], wall, cores))
            i += len(recs)
        for k in per_pass[0]:
            layers[k] = median(p[k] for p in per_pass)
        layers["proc.jvm_peak_rss_mb"] = proc.jvm_peak_rss_mb()
        d = {k: j1[k] - j0[k] for k in j0}
        layers["host.steal_pct"] = 100.0 * d["steal"] / max(d["total"], 1)
        layers["host.sys_pct"] = 100.0 * d["sys"] / max(d["total"], 1)
        for name in sorted({o["op"] for o in hook.ops}):
            mine = [o for o in hook.ops if o["op"] == name]
            layers[f"op.{name}.s"] = median(o["s"] for o in mine)
            layers[f"op.{name}.jobs"] = median(o["jobs"] for o in mine)
        untraced = median(w for w, _ in passes)
        traced_wall = median(w for w, _ in traced_passes)
        layers["trace.overhead_s"] = traced_wall - untraced
        layers["trace.overhead_share"] = (traced_wall - untraced) / untraced
        layers["trace.probe_s"] = hook.probe_s / len(hook.ops) * len(ops)
        if args.trace_file:
            with open(args.trace_file, "w") as fh:
                json.dump({"spans": tracer.spans, "self_s": tracer.self_times(),
                           "ops": hook.ops, "layers": layers}, fh, indent=1)
        spark.streams.removeListener(stream)
        attempted += sum(len(recs) for _, recs in traced_passes)
        failed += sum(not r["ok"] for _, recs in traced_passes for r in recs)

    result = {
        "correct": not runner.failures,
        "attempted": attempted,
        "failed": failed,
        "metrics": layers if traced else metrics,
        "warmup_failures": warm_failures,
    }
    with open(args.out, "w") as fh:
        json.dump(result, fh)
    # No spark.stop(): run.py stops the JVM and its workers once this
    # process has exited, which is quicker than a graceful shutdown.


if __name__ == "__main__":
    main()
