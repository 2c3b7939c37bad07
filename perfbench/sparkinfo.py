"""Figures read from Spark's JVM through py4j, for the traced
run: job and stage metrics from the status store (present with the UI
off), plan size, Python-worker time from the executed plan's SQL
metrics, and peak resident memory from /proc.

Jobs are attributed to an op by job-id range: ops run one at a time on
one client, so the jobs that appear between two ops belong to the
first. Job groups would not do here, because streaming drains and wire
statements run their jobs on threads that do not carry the caller's
group.
"""

from __future__ import annotations

import json
import os

from py4j.protocol import Py4JError

STAGE_KEYS = ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_read_bytes", "shuffle_write_bytes")
PYTHON_NODES = ("ArrowEvalPython", "BatchEvalPython", "FlatMapGroupsInPandas",
                "FlatMapGroupsInArrow", "FlatMapCoGroupsInPandas",
                "FlatMapCoGroupsInArrow", "MapInPandas", "MapInArrow",
                "PythonMapInArrow", "AggregateInPandas", "WindowInPandas",
                "ArrowWindowPython", "ArrowAggregatePython",
                "FlatMapGroupsInPandasWithState", "BatchEvalPythonUDTF",
                "ArrowEvalPythonUDTF")


class JobCounter:
    def __init__(self, spark) -> None:
        self._sc = spark.sparkContext._jsc.sc()
        self._store = self._sc.statusStore()

    def settle(self) -> None:
        """Wait until the listener bus has delivered every event."""
        self._sc.listenerBus().waitUntilEmpty()

    def last_job(self) -> int:
        jobs = self._store.jobsList(None)
        return jobs.apply(0).jobId() if jobs.size() else -1

    def stats(self, after: int, upto: int) -> dict:
        """Totals over jobs after..upto (exclusive, inclusive)."""
        out = dict.fromkeys(STAGE_KEYS, 0)
        out["jobs"] = upto - after
        for job_id in range(after + 1, upto + 1):
            try:
                sids = self._store.job(job_id).stageIds()
            except Py4JError:  # evicted from the store
                continue
            for k in range(sids.size()):
                attempts = self._store.stageData(sids.apply(k), False, None, False, None)
                for a in range(attempts.size()):
                    s = attempts.apply(a)
                    if s.status().toString() == "SKIPPED":
                        continue
                    out["stages"] += 1
                    out["tasks"] += s.numCompleteTasks() + s.numFailedTasks()
                    out["executor_run_s"] += s.executorRunTime() / 1e3
                    out["executor_cpu_s"] += s.executorCpuTime() / 1e9
                    out["gc_s"] += s.jvmGcTime() / 1e3
                    out["shuffle_read_bytes"] += s.shuffleReadBytes()
                    out["shuffle_write_bytes"] += s.shuffleWriteBytes()
        return out


def plan_size(df) -> tuple[int, int]:
    """(nodes, bytes) of the optimised logical plan's JSON form, which
    is not truncated by spark.sql.maxPlanStringLength."""
    try:
        text = df._jdf.queryExecution().optimizedPlan().toJSON()
    except Py4JError:
        return 0, 0
    return len(json.loads(text)), len(text.encode())


def _walk(node, out: list) -> None:
    name = node.nodeName()
    if name == "AdaptiveSparkPlan":
        return _walk(node.executedPlan(), out)
    if name.endswith("QueryStage"):
        return _walk(node.plan(), out)
    out.append(node)
    children = node.children()
    for i in range(children.size()):
        _walk(children.apply(i), out)


def python_eval_s(df) -> float:
    """Time Python workers ran for this execution, from the SQL metrics
    of the executed plan's Python-evaluation nodes."""
    nodes: list = []
    try:
        _walk(df._jdf.queryExecution().executedPlan(), nodes)
    except Py4JError:
        return 0.0
    total = 0.0
    for node in nodes:
        if node.nodeName() not in PYTHON_NODES:
            continue
        metrics = node.metrics()
        if not metrics.contains("pythonTotalTime"):
            continue
        m = metrics.apply("pythonTotalTime")
        scale = 1e9 if m.metricType() == "nsTiming" else 1e3
        total += m.value() / scale
    return total


def peak_rss_mb(jvm_pid: int | None) -> float:
    """VmHWM of this Python process plus Spark's JVM, in MiB."""
    total_kb = 0
    for pid in ("self", jvm_pid):
        if pid is None:
            continue
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
        except OSError:
            pass
    return total_kb / 1024.0


def cpu_steal_s() -> float:
    """CPU seconds since boot that the hypervisor ran other guests on
    this machine's CPUs while they were ours to run (summed over CPUs);
    0.0 where /proc/stat does not say."""
    try:
        with open("/proc/stat") as f:
            fields = f.readline().split()
    except OSError:
        return 0.0
    return int(fields[8]) / os.sysconf("SC_CLK_TCK") if len(fields) > 8 else 0.0


def process_age_s() -> float | None:
    """Seconds since this process started, from /proc (10 ms ticks)."""
    try:
        with open("/proc/self/stat") as f:
            fields = f.read().rsplit(")", 1)[1].split()
        with open("/proc/uptime") as f:
            uptime = float(f.read().split()[0])
    except OSError:
        return None
    return uptime - int(fields[19]) / os.sysconf("SC_CLK_TCK")
