"""Run one benchmark workload and print its result.

    python3 perfbench/run.py --workload <name> --seed <n> --seconds <s> --trace <0|1>

Run from the repository root (Spark's Python workers import the package
from the working directory). The run is a closed loop in this one
process on the session `table_computing_spark.session.get_spark` makes:

1. make the seeded inputs (cached per seed; not timed);
2. set up: start the session, then warm up with one untimed round
   (batch: after a cold pass that keeps the results) (`setup_s`);
3. run whole rounds of the workload's operations, as many as fill
   `--seconds` at the workload's typical round time (the timed phase);
4. with `--trace 1`, run a second, traced phase of as many rounds;
5. check the outputs against DuckDB;
6. stop the session and the JVM, and wait until every process the run
   started has ended.

The last line of stdout is one JSON object: correct, attempted, failed
and the metrics (end-to-end ones untraced, per-layer ones traced). The
run record (seed, local[N], steal, ...) goes to stderr.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import signal
import statistics
import sys
import time
import traceback

import layers
import workloads


PR_SET_CHILD_SUBREAPER = 36


def become_subreaper() -> None:
    """Adopt this process's orphaned descendants: a Python worker whose
    JVM ended first is re-parented here instead of to init, so the run
    can wait for it to end."""
    try:
        ctypes.CDLL(None, use_errno=True).prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0)
    except (OSError, AttributeError):
        pass


def stop_processes(spark, timeout_s: float = 60.0) -> None:
    """Stop the session and the JVM, then wait until every process this
    run started has ended (killing what is left after `timeout_s`).
    Python's exit alone would leave the JVM running for a while: it only
    notices the closed gateway pipe afterwards."""
    from pyspark import SparkContext

    signal.signal(signal.SIGTERM, signal.SIG_IGN)  # the wait below is bounded
    if spark is not None:
        try:
            spark.stop()
        except Exception:  # noqa: BLE001 (the JVM may already be gone)
            traceback.print_exc()
    # The JVM exits when its stdin closes. (The gateway's own shutdown
    # is not called: it can hang on a callback-server thread that a
    # terminated run left inside a foreachBatch sink.)
    proc = getattr(SparkContext._gateway, "proc", None)
    if proc is not None and proc.stdin is not None:
        proc.stdin.close()
    deadline = time.monotonic() + timeout_s
    sig = signal.SIGTERM
    while True:
        try:
            while os.waitpid(-1, os.WNOHANG)[0] > 0:
                pass
        except ChildProcessError:
            pass
        left = layers.descendants()
        if not left:
            return
        if time.monotonic() > deadline:
            print(f"perfbench: sending {sig.name} to {left}", file=sys.stderr)
            for pid in left:
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
            sig, deadline = signal.SIGKILL, time.monotonic() + 10
        time.sleep(0.05)


def run_phase(spark, wl, rounds: int, tr) -> dict:
    """`rounds` whole rounds. An operation that raises ends its round;
    the round's remaining operations count as failed."""
    lat: list[float] = []
    split = {"build_s": 0.0, "exec_s": 0.0}
    round_s: list[float] = []
    attempted = failed = 0

    def on_op(dt, build_s, exec_s):
        lat.append(dt)
        split["build_s"] += build_s
        split["exec_s"] += exec_s

    cpu0, py0 = layers.tree_cpu_s()
    steal0 = layers.host_steal_s()
    t0 = time.perf_counter()
    for _ in range(rounds):
        before = len(lat)
        r0 = time.perf_counter()
        try:
            wl.round(spark, tr, on_op)
        except Exception:  # noqa: BLE001 (count the failure, keep the loop)
            traceback.print_exc()
        round_s.append(time.perf_counter() - r0)
        attempted += wl.ops_per_round
        failed += wl.ops_per_round - (len(lat) - before)
    wall = time.perf_counter() - t0
    cpu1, py1 = layers.tree_cpu_s()
    return {
        "lat_ms": [x * 1e3 for x in lat],
        "rounds": len(round_s),
        "round_s": round_s,
        "attempted": attempted,
        "failed": failed,
        "wall_s": wall,
        "cpu_s": cpu1 - cpu0,
        "python_cpu_s": py1 - py0,
        "steal_s": layers.host_steal_s() - steal0,
        **split,
    }


def layer_metrics(spark, wl, phase: dict, listener, first_exec: int) -> dict:
    """The per-layer figures of a traced phase. Seconds and counts are
    per round, milliseconds per operation."""
    r = phase["rounds"]
    ops = max(len(phase["lat_ms"]), 1)
    listener.drain()
    exec_groups = ["perfbench-exec"] + wl.stream_groups()
    build = layers.job_totals(spark, ["perfbench-build"])
    execj = layers.job_totals(spark, exec_groups)
    allj = layers.job_totals(spark, ["perfbench-build"] + exec_groups)
    py_rows, py_mb = layers.python_sql_metrics(spark, first_exec)
    stream = wl.stream_totals()
    m = {
        "build_s": phase["build_s"] / r,
        "build_jobs": build["jobs"] / r,
        "plan_ms": listener.plan_ms / ops,
        "exec_s": phase["exec_s"] / r,
        "exec_jobs": execj["jobs"] / r,
        **{k: allj[k] / r for k in ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s",
                                    "scan_mb", "shuffle_write_mb", "spill_mb")},
        "python_rows": py_rows / r,
        "python_mb": py_mb / r,
        "python_cpu_s": phase["python_cpu_s"] / r,
    }
    for k in ("trigger_add_ms", "trigger_plan_ms", "trigger_wal_ms", "trigger_commit_ms",
              "trigger_source_ms", "state_commit_ms"):
        m[k] = stream[k] / ops
    m["state_rows"] = stream["state_rows"] / r
    m["state_mb"] = stream["state_mb"] / r
    return m


UNITS = {
    "setup_s": "s", "work_s": "s", "p50_ms": "ms", "cpu_s": "s",
    "session_start_s": "s", "warmup_s": "s", "build_s": "s", "build_jobs": "count",
    "plan_ms": "ms", "exec_s": "s", "exec_jobs": "count", "stages": "count",
    "tasks": "count", "task_run_s": "s", "task_cpu_s": "s", "gc_s": "s", "scan_mb": "MB",
    "shuffle_write_mb": "MB", "spill_mb": "MB", "python_rows": "count", "python_mb": "MB",
    "python_cpu_s": "s", "trigger_add_ms": "ms", "trigger_plan_ms": "ms",
    "trigger_wal_ms": "ms", "trigger_commit_ms": "ms", "trigger_source_ms": "ms",
    "state_commit_ms": "ms", "state_rows": "count", "state_mb": "MB",
}


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(workloads.WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()

    root = os.getcwd()
    sys.path.insert(0, root)
    try:
        from table_computing_spark.session import get_spark
    except ImportError as e:
        print(f"perfbench: run from the repository root ({e})", file=sys.stderr)
        return 2

    wl = workloads.WORKLOADS[args.workload]()
    # The same work in every run, whatever the host's speed: the number
    # of rounds that fill --seconds at the workload's typical round time.
    rounds = max(1, round(args.seconds / wl.round_s))
    # Spark's shuffle and block files and every temporary file stay in
    # the checkout; the JVM's perf-data file would otherwise go to /tmp.
    tmp = os.path.join(root, ".bench_work", "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(root, ".bench_work", "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp} -XX:-UsePerfData")
    wl.prepare(os.path.join(root, ".bench_data"), args.seed)

    become_subreaper()
    # A terminated run unwinds like a failed one, through stop_processes.
    signal.signal(signal.SIGTERM, lambda signum, frame: sys.exit(128 + signum))
    spark = None
    try:
        t0 = time.perf_counter()
        spark = get_spark("tc-spark-perfbench")
        spark.sparkContext.setLogLevel("ERROR")
        t1 = time.perf_counter()
        wl.warm(spark)
        t2 = time.perf_counter()
        phase = run_phase(spark, wl, rounds, workloads.NullTrace())
        traced = layer = None
        if args.trace:
            listener = layers.PhaseListener(spark)
            first_exec = layers.next_execution_id(spark)
            wl.start_trace()
            traced = run_phase(spark, wl, rounds, workloads.JobGroups(spark))
            layer = layer_metrics(spark, wl, traced, listener, first_exec)
            listener.close()
        try:
            problems = wl.check()
        except Exception as e:  # noqa: BLE001 (a check that cannot run is a failed check)
            traceback.print_exc()
            problems = [f"check raised {e!r}"]
        sc = spark.sparkContext
        master = f"{sc.master} ({sc.defaultParallelism} threads, nproc {os.cpu_count()})"
    finally:
        stop_processes(spark)

    lat = phase["lat_ms"]
    setup = {"session_start_s": t1 - t0, "warmup_s": t2 - t1}
    e2e = {
        "setup_s": t2 - t0,
        "work_s": phase["wall_s"] / rounds,
        "p50_ms": statistics.median(lat) if lat else float("nan"),
        "cpu_s": phase["cpu_s"] / rounds,
    }
    record = {
        "workload": args.workload, "seed": args.seed, "master": master,
        "seconds": args.seconds, "rounds": phase["rounds"], "operations": len(lat),
        "attempted": phase["attempted"], "failed": phase["failed"],
        "steal_s": round(phase["steal_s"], 2), "wall_s": round(phase["wall_s"], 3),
        "round_s": [round(x, 3) for x in phase["round_s"]],
        "warm_ops_s": getattr(wl, "warm_s", None),
        "op_ms": [round(x, 1) for x in lat], **setup, **e2e, "problems": problems,
    }
    if traced is not None:
        record["traced_steal_s"] = round(traced["steal_s"], 2)
        record["trace_overhead"] = traced["wall_s"] / phase["wall_s"]
    print("perfbench record " + json.dumps(record), file=sys.stderr)

    metrics = e2e if layer is None else {**setup, **layer}
    out = {
        "correct": not problems,
        "attempted": phase["attempted"] + (traced["attempted"] if traced else 0),
        "failed": phase["failed"] + (traced["failed"] if traced else 0),
        "metrics": {k: {"value": v, "unit": UNITS[k]} for k, v in metrics.items()},
    }
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
