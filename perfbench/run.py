"""Benchmark entry point: search / maintain workloads over the query registry.

Usage, from the repository root:
    python3 perfbench/run.py --workload search --seed 1 --seconds 4 --trace 0

Starts worker.py in a fresh process with TMPDIR and SPARK_LOCAL_DIRS
under .perfbench_scratch/, waits for it and for every process it started
(the JVM and pyspark workers included), removes the scratch directory and
prints one JSON line as the last line of stdout:
    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}
With --trace 0 the metrics are the end-to-end ones, with --trace 1 the
per-layer ones; a traced run also writes its spans and per-op counters to
.perfbench_out/trace-<workload>-<seed>.json. --record FILE appends the
result to a JSON-lines file that diff.py compares. See README.md.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import shutil
import signal
import subprocess
import sys
import time
from pathlib import Path

HERE = Path(__file__).resolve().parent
ROOT = HERE.parent
sys.path.insert(0, str(HERE))

from workloads import WORKLOADS, all_ops  # noqa: E402

DEADLINE_S = 150  # the worker's share of a run's 180 s
_PR_SET_CHILD_SUBREAPER = 36

END_TO_END = {"setup_s": "s", "pass_s": "s", "op_p50_s": "s", "op_geomean_s": "s"}

_LAYER_UNITS = {
    "session.get_spark_s": "s",
    "tables.load_tables_s": "s",
    "tables.load_tables_jobs": "count",
    "tables.index_bytes": "bytes",
    "tables.index_bytes_per_input_byte": "ratio",
    "registry.build_s": "s",
    "registry.collect_s": "s",
    "spark.jobs": "count",
    "spark.stages": "count",
    "spark.tasks": "count",
    "spark.task_busy_s": "s",
    "spark.core_util": "ratio",
    "spark.gc_s": "s",
    "spark.shuffle_read_bytes": "bytes",
    "spark.shuffle_write_bytes": "bytes",
    "spark.spill_bytes": "bytes",
    "spark.input_bytes": "bytes",
    "spark.failed_tasks": "count",
    "spark.task_skew": "ratio",
    "spark.clipped_ops": "count",
    "python.worker_cpu_s": "s",
    "streaming.micro_batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "proc.cpu_s": "s",
    "proc.jvm_peak_rss_mb": "MB",
    "host.steal_pct": "%",
    "host.sys_pct": "%",
    "trace.overhead_s": "s",
    "trace.overhead_share": "ratio",
    "trace.probe_s": "s",
}


def per_layer_units() -> dict[str, str]:
    units = dict(_LAYER_UNITS)
    for op in all_ops():
        units[f"op.{op}.s"] = "s"
        units[f"op.{op}.jobs"] = "count"
    return units


def _become_subreaper() -> None:
    """Adopt orphaned descendants (the JVM outlives the worker briefly and
    the pyspark daemon moves to its own process group), so that they can
    be waited for here."""
    libc = ctypes.CDLL(None, use_errno=True)
    libc.prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    libc.prctl.restype = ctypes.c_int
    if libc.prctl(_PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as fh:
                    ppid = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            kids.setdefault(ppid, []).append(int(name))
    out, todo = [], list(kids.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(kids.get(pid, ()))
    return out


def _reap_descendants(grace_s: float) -> None:
    """Wait until every process the run started has ended; after grace_s,
    terminate the rest (SIGTERM, then SIGKILL after another grace_s)."""
    start = time.monotonic()
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return
        if pid:
            continue
        waited = time.monotonic() - start
        if waited > grace_s:
            sig = signal.SIGKILL if waited > 2 * grace_s else signal.SIGTERM
            for p in _descendants():
                try:
                    os.kill(p, sig)
                except ProcessLookupError:
                    pass
            time.sleep(0.5)
        time.sleep(0.05)


def main() -> int:
    t0 = time.time()
    ap = argparse.ArgumentParser(description="kektordb_spark registry benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--record", metavar="FILE",
                    help="also append the result as one JSON line to FILE (input of diff.py)")
    args = ap.parse_args()

    if not (ROOT / "kektordb_spark" / "__init__.py").is_file():
        print(f"[perfbench] no kektordb_spark package under {ROOT}", file=sys.stderr)
        return 2

    scratch = ROOT / ".perfbench_scratch" / f"{args.workload}-{args.seed}-{os.getpid()}"
    tmp = scratch / "tmp"
    local = scratch / "spark-local"
    tmp.mkdir(parents=True)
    local.mkdir()
    result_path = scratch / "result.json"
    cmd = [sys.executable, str(HERE / "worker.py"), "--workload", args.workload,
           "--seed", str(args.seed), "--seconds", str(args.seconds),
           "--trace", str(args.trace), "--out", str(result_path)]
    if args.trace:
        out_dir = ROOT / ".perfbench_out"
        out_dir.mkdir(exist_ok=True)
        cmd += ["--trace-file", str(out_dir / f"trace-{args.workload}-{args.seed}.json")]
    env = dict(os.environ)
    env.update({
        "TMPDIR": str(tmp),
        "SPARK_LOCAL_DIRS": str(local),
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "PERFBENCH_T0": repr(t0),
        # JVM scratch under the run's directory too; no hsperfdata in /tmp.
        "JAVA_TOOL_OPTIONS": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    })
    _become_subreaper()
    proc = subprocess.Popen(cmd, env=env, cwd=ROOT, stdout=sys.stderr)
    try:
        rc = proc.wait(timeout=max(1.0, DEADLINE_S - (time.time() - t0)))
    except subprocess.TimeoutExpired:
        print("[perfbench] run exceeded its deadline", file=sys.stderr)
        proc.kill()
        proc.wait()
        rc = None
    # Once the worker has written its result nothing else is needed from
    # the JVM or the pyspark workers: stop them at once. After a failure,
    # give them time to exit on their own first.
    _reap_descendants(0.0 if rc == 0 else 10.0)
    try:
        result = json.loads(result_path.read_text()) if rc == 0 else None
    except (OSError, ValueError):
        result = None
    shutil.rmtree(scratch, ignore_errors=True)
    try:
        (ROOT / ".perfbench_scratch").rmdir()
    except OSError:
        pass
    if result is None:
        print(f"[perfbench] worker failed (exit {rc})", file=sys.stderr)
        return 1

    units = per_layer_units() if args.trace else END_TO_END
    missing = sorted(set(units) - set(result["metrics"]))
    if missing:
        print(f"[perfbench] metrics missing: {missing}", file=sys.stderr)
        return 1
    print(f"[perfbench] {args.workload}: {result['attempted']} ops timed, "
          f"{result['failed']} failed, {result.pop('warmup_failures')} warm-up failures",
          file=sys.stderr)
    result["metrics"] = {k: {"value": result["metrics"][k], "unit": u} for k, u in units.items()}
    if args.record:
        with open(args.record, "a") as fh:
            fh.write(json.dumps({"workload": args.workload, "seed": args.seed,
                                 "trace": args.trace, "result": result}) + "\n")
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
