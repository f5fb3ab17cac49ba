"""What a run measures besides its own clock.

* Host readings from /proc: CPU-seconds of this process tree (the Python
  process, the JVM and the Python workers) and host CPU steal.
* The per-layer trace of a traced run: Spark jobs counted by job group,
  stage and task totals from the status store, SQL metrics of the
  Python-worker operators, Catalyst phase times of every query
  execution, and the micro-batch progress of streaming queries.
"""

from __future__ import annotations

import os
import re

CLK_TCK = os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """Steal time of all host CPUs, in seconds (the `cpu` line of /proc/stat)."""
    with open("/proc/stat") as f:
        fields = f.readline().split()
    return int(fields[8]) / CLK_TCK


def _proc_stats() -> dict[int, tuple[int, str, float]]:
    """pid -> (ppid, comm, CPU seconds incl. reaped children)."""
    out = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                raw = f.read()
        except OSError:  # exited between listdir and open
            continue
        comm = raw[raw.index("(") + 1 : raw.rindex(")")]
        rest = raw[raw.rindex(")") + 2 :].split()
        # fields 14-17 of stat(5): utime stime cutime cstime
        ticks = sum(int(x) for x in rest[11:15])
        out[int(name)] = (int(rest[1]), comm, ticks / CLK_TCK)
    return out


def descendants() -> list[int]:
    """Pids of every live descendant of this process (the JVM, the
    Python worker daemon and its workers), zombies included."""
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in _proc_stats().items():
        children.setdefault(ppid, []).append(pid)
    out: list[int] = []
    todo = list(children.get(os.getpid(), ()))
    while todo:
        pid = todo.pop()
        out.append(pid)
        todo.extend(children.get(pid, ()))
    return out


def tree_cpu_s() -> tuple[float, float]:
    """(CPU-seconds of this process and all its descendants, the share
    of it spent in descendant Python processes, i.e. Spark's Python
    workers). A descendant that exited and was reaped is counted in its
    parent's child time, so totals only grow."""
    stats = _proc_stats()
    children: dict[int, list[int]] = {}
    for pid, (ppid, _, _) in stats.items():
        children.setdefault(ppid, []).append(pid)
    me = os.getpid()
    total = python = 0.0
    todo = [me]
    while todo:
        pid = todo.pop()
        if pid not in stats:
            continue
        _, comm, cpu = stats[pid]
        total += cpu
        if pid != me and comm.startswith("python"):
            python += cpu
        todo.extend(children.get(pid, ()))
    return total, python


_SIZE = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


def _metric_total(text: str) -> float:
    """Total of a formatted SQL metric: '1,234', '2.3 MiB', or the
    'total (min, med, max ...)' form whose second line starts with it."""
    line = text.strip().splitlines()[-1]
    m = re.match(r"([\d,.]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _SIZE.get(m.group(2), 1)


class PhaseListener:
    """Catalyst phase times of every query execution that ends while
    registered (a py4j implementation of the JVM's
    QueryExecutionListener). The `noop` write builds its own
    QueryExecution, so its phases are the write's planning cost."""

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]

    def __init__(self, spark):
        from pyspark.java_gateway import ensure_callback_server_started

        self._spark = spark
        self.plan_ms = 0.0
        self.executions = 0
        ensure_callback_server_started(spark.sparkContext._gateway)
        spark._jsparkSession.listenerManager().register(self)

    def onSuccess(self, func_name, qe, duration_ns):  # noqa: N802 (JVM interface)
        phases = qe.tracker().phases()
        for name in ("analysis", "optimization", "planning"):
            p = phases.get(name)
            if p.isDefined():
                self.plan_ms += p.get().durationMs()
        self.executions += 1

    def onFailure(self, func_name, qe, exception):  # noqa: N802
        pass

    def drain(self) -> None:
        """Wait until the listener bus has delivered every pending event."""
        self._spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(60_000)

    def close(self) -> None:
        self._spark._jsparkSession.listenerManager().unregister(self)


def job_totals(spark, groups: list[str]) -> dict[str, float]:
    """Jobs, completed stages and tasks, and task-level time and bytes of
    every job in `groups`, from the status tracker and the status store."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    store = sc._jsc.sc().statusStore()
    jobs: set[int] = set()
    for g in groups:
        jobs.update(tracker.getJobIdsForGroup(g))
    stage_ids: set[int] = set()
    for j in jobs:
        info = tracker.getJobInfo(j)
        if info is not None:
            stage_ids.update(info.stageIds)
    t = dict.fromkeys(
        ("stages", "tasks", "task_run_s", "task_cpu_s", "gc_s", "scan_mb",
         "shuffle_write_mb", "spill_mb"), 0.0)
    for sid in stage_ids:
        sd = store.lastStageAttempt(sid)
        if sd.status().toString() != "COMPLETE":
            continue  # skipped: its shuffle output was reused
        t["stages"] += 1
        t["tasks"] += sd.numCompleteTasks()
        t["task_run_s"] += sd.executorRunTime() / 1e3
        t["task_cpu_s"] += sd.executorCpuTime() / 1e9
        t["gc_s"] += sd.jvmGcTime() / 1e3
        t["scan_mb"] += sd.inputBytes() / 1e6
        t["shuffle_write_mb"] += sd.shuffleWriteBytes() / 1e6
        t["spill_mb"] += (sd.memoryBytesSpilled() + sd.diskBytesSpilled()) / 1e6
    t["jobs"] = float(len(jobs))
    return t


def python_sql_metrics(spark, first_execution: int) -> tuple[float, float]:
    """(rows returned from Python workers, MB sent to plus returned from
    them), summed over the SQL executions with id >= first_execution."""
    store = spark._jsparkSession.sharedState().statusStore()
    rows = mb = 0.0
    it = store.executionsList().iterator()
    while it.hasNext():
        eid = it.next().executionId()
        if eid < first_execution:
            continue
        values = store.executionMetrics(eid)
        nodes = store.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            node = nodes.next()
            metrics = {}
            ms = node.metrics().iterator()
            while ms.hasNext():
                m = ms.next()
                v = values.get(m.accumulatorId())
                if v.isDefined():
                    metrics[m.name()] = _metric_total(v.get())
            if "data sent to Python workers" not in metrics:
                continue
            rows += metrics.get("number of output rows", 0.0)
            mb += (metrics["data sent to Python workers"]
                   + metrics.get("data returned from Python workers", 0.0)) / 1e6
    return rows, mb


def next_execution_id(spark) -> int:
    store = spark._jsparkSession.sharedState().statusStore()
    last = -1
    it = store.executionsList().iterator()
    while it.hasNext():
        last = max(last, it.next().executionId())
    return last + 1


def progress_totals(progress: list[dict]) -> dict[str, float]:
    """Sum of micro-batch durations and state-store commit time over the
    data triggers of one streaming query, plus its state size after the
    last of them."""
    t = dict.fromkeys(
        ("trigger_add_ms", "trigger_plan_ms", "trigger_wal_ms", "trigger_commit_ms",
         "trigger_source_ms", "state_commit_ms", "state_rows", "state_mb"), 0.0)
    data = [p for p in progress if p.get("numInputRows", 0) > 0]
    for p in data:
        d = p.get("durationMs", {})
        t["trigger_add_ms"] += d.get("addBatch", 0)
        t["trigger_plan_ms"] += d.get("queryPlanning", 0)
        t["trigger_wal_ms"] += d.get("walCommit", 0)
        t["trigger_commit_ms"] += d.get("commitOffsets", 0)
        t["trigger_source_ms"] += d.get("getBatch", 0) + d.get("latestOffset", 0)
        t["state_commit_ms"] += sum(s.get("commitTimeMs", 0) for s in p.get("stateOperators", []))
    if data:
        last = data[-1].get("stateOperators", [])
        t["state_rows"] = float(sum(s.get("numRowsTotal", 0) for s in last))
        t["state_mb"] = sum(s.get("memoryUsedBytes", 0) for s in last) / 1e6
    return t
