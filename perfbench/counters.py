"""Spark's own counters, read over py4j, and process memory from /proc.

* status store (``SparkContext.statusStore``): jobs and stage attempts
  with task time, CPU, GC, shuffle, spill and output bytes;
* SQL status store: per-execution ``PythonSQLMetrics`` (Python worker
  boot, init and run time, bytes sent and received);
* ``CodegenMetrics``: the whole-stage codegen compile count; compile
  time is summed from ``CodeGenerator``'s own "Code generated in N ms"
  log lines, which ``log4j2-codegen.properties`` routes to a file (the
  metric's own timing histogram keeps a sample of 1028 values, so sums
  over it stop being totals once a run compiles more);
* ``QueryExecution.tracker``: Catalyst analysis, optimization and
  planning time of one DataFrame.
"""

from __future__ import annotations

import os
import re
import threading

MB = 1024 * 1024
_SEP = "\u0001"

PYTHON_METRICS = {
    "time to start Python workers": "pyworker.boot_s",
    "time to initialize Python workers": "pyworker.init_s",
    "time to run Python workers": "pyworker.total_s",
    "data sent to Python workers": "pyworker.sent_mb",
    "data returned from Python workers": "pyworker.received_mb",
}
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1 / MB, "KiB": 1 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": 1024.0 * 1024,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]+)")
_COMPILED = re.compile(rb"^Code generated in ([0-9.]+) ms$", re.M)


def parse_metric(text: str) -> float:
    """A rendered SQL metric ("1.2 s", "380 ms", "180.6 KiB", or the
    "total (min, med, max ...)\\n<total> (...)" form) in seconds or MiB."""
    body = text.split("\n", 1)[1] if "\n" in text else text
    m = _VALUE.match(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 0.0)


def _scala_map(m) -> dict:
    out, it = {}, m.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


class SparkCounters:
    """Reads what finished since the previous read; one per session."""

    def __init__(self, spark, codegen_log: str) -> None:
        sc = spark.sparkContext
        jvm = sc._jvm
        self.store = sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
        self.codegen_log = codegen_log
        self._log_pos = 0
        self.logged_compiles = 0
        self._compile_ms = 0.0
        self._no_quantiles = sc._gateway.new_array(jvm.double, 0)
        self.last_job = self.last_stage = -1
        self.exec_count = 0
        self.drain()

    def codegen_snapshot(self) -> tuple[int, float]:
        """(compiles, compile seconds) since JVM start."""
        with open(self.codegen_log, "rb") as fh:
            fh.seek(self._log_pos)
            chunk = fh.read()
        chunk = chunk[: chunk.rfind(b"\n") + 1]  # a line being written waits
        self._log_pos += len(chunk)
        times = _COMPILED.findall(chunk)
        self.logged_compiles += len(times)
        self._compile_ms += sum(float(t) for t in times)
        return self.codegen.getCount(), self._compile_ms / 1000.0

    def new_jobs(self) -> list[dict]:
        """Jobs with ids above the last read."""
        jobs = self.store.jobsList(None)
        out = []
        for i in range(jobs.size()):  # newest first
            j = jobs.apply(i)
            if j.jobId() <= self.last_job:
                break
            sub, done = j.submissionTime(), j.completionTime()
            out.append({
                "id": j.jobId(),
                "submit": sub.get().getTime() / 1000.0 if sub.isDefined() else None,
                "end": done.get().getTime() / 1000.0 if done.isDefined() else None,
            })
        if out:
            self.last_job = max(j["id"] for j in out)
        return sorted(out, key=lambda j: j["id"])

    def new_stages(self) -> list[dict]:
        """Finished stage attempts with stage ids above the last read."""
        stages = self.store.stageList(None, False, False, self._no_quantiles, None)
        out = []
        for i in range(stages.size()):  # newest first
            s = stages.apply(i)
            if s.stageId() <= self.last_stage:
                break
            if s.status().toString() not in ("COMPLETE", "FAILED"):
                continue
            out.append({
                "id": s.stageId(),
                "attempt": s.attemptId(),
                "tasks": s.numCompleteTasks() + s.numFailedTasks(),
                "failed_tasks": s.numFailedTasks(),
                "run_s": s.executorRunTime() / 1000.0,
                "cpu_s": s.executorCpuTime() / 1e9,
                "gc_s": s.jvmGcTime() / 1000.0,
                "shuffle_read_mb": s.shuffleReadBytes() / MB,
                "shuffle_write_mb": s.shuffleWriteBytes() / MB,
                "spill_mb": s.diskBytesSpilled() / MB,
                "output_mb": s.outputBytes() / MB,
            })
        if out:
            self.last_stage = max(s["id"] for s in out)
        return out

    def new_python_metrics(self) -> dict[str, float]:
        """PythonSQLMetrics summed over SQL executions since the last read."""
        total = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
        count = self.sql_store.executionsCount()
        if count <= self.exec_count:
            return total
        execs = self.sql_store.executionsList(self.exec_count, count - self.exec_count)
        self.exec_count = count
        for i in range(execs.size()):
            e = execs.apply(i)
            # one py4j call per list; entries read SQLPlanMetric(name,id,type)
            ids = {}
            for m in e.metrics().mkString(_SEP).split(_SEP):
                name, acc, _ = m[len("SQLPlanMetric("):-1].rsplit(",", 2)
                if name in PYTHON_METRICS:
                    ids[acc] = PYTHON_METRICS[name]
            if not ids:
                continue
            values = self.sql_store.executionMetrics(e.executionId()).mkString(_SEP)
            for entry in values.split(_SEP):
                acc, _, text = entry.partition(" -> ")
                if acc in ids:
                    total[ids[acc]] += parse_metric(text)
        return total

    def drain(self) -> None:
        """Skip whatever ran since the last read (an untraced pass)."""
        self.new_jobs()
        self.new_stages()
        self.new_python_metrics()


def planning_phases(df) -> dict[str, float]:
    """Plan ``df`` through its own QueryExecution and return the
    tracker's analysis / optimization / planning seconds."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = _scala_map(qe.tracker().phases())
    return {
        f"catalyst.{name}_s": phases[name].durationMs() / 1000.0 if name in phases else 0.0
        for name in ("analysis", "optimization", "planning")
    }


def _proc_mb(path: str, field: str) -> float:
    """One ``field: <n> kB`` line of a /proc file, in MiB (0 if gone)."""
    try:
        with open(path) as fh:
            for line in fh:
                if line.startswith(field):
                    return int(line.split()[1]) / 1024.0
    except OSError:
        pass
    return 0.0


def _python_descendants(root: int) -> list[int]:
    """Python processes below ``root``. The name filter drops helpers the
    JVM forks for shell commands, which until their exec show the JVM's
    own pages."""
    children: dict[int, list[tuple[int, str]]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as fh:
                stat = fh.read()
            comm, rest = stat.split(" (", 1)[1].rsplit(")", 1)
            ppid = int(rest.split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children.setdefault(ppid, []).append((int(entry), comm))
    out, todo = [], [root]
    while todo:
        for pid, comm in children.get(todo.pop(), []):
            if comm.startswith("python"):
                out.append(pid)
            todo.append(pid)
    return out


class MemorySampler:
    """Polls the driver JVM's descendants (the Python daemon and its
    workers) and keeps the largest sum of their PSS seen at once. PSS,
    not RSS: the workers are forked from the daemon and share its pages,
    which a sum of RSS would count once per worker."""

    def __init__(self, jvm_pid: int, interval: float = 0.25) -> None:
        self.jvm_pid = jvm_pid
        self.interval = interval
        self.pyworker_peak_mb = 0.0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="perfbench-mem", daemon=True)

    def _sample(self) -> None:
        live = sum(_proc_mb(f"/proc/{p}/smaps_rollup", "Pss:") for p in _python_descendants(self.jvm_pid))
        self.pyworker_peak_mb = max(self.pyworker_peak_mb, live)

    def _run(self) -> None:
        while not self._stop.wait(self.interval):
            self._sample()

    def start(self) -> "MemorySampler":
        self._thread.start()
        return self

    def stop(self) -> dict[str, float]:
        self._stop.set()
        self._thread.join()
        self._sample()
        return {
            "mem.driver_jvm_peak_mb": _proc_mb(f"/proc/{self.jvm_pid}/status", "VmHWM:"),
            "mem.pyworker_peak_mb": self.pyworker_peak_mb,
        }
