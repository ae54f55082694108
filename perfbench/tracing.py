"""Spans around the benchmark's calls into caspr_spark, and the per-layer
counters read at each span's end.

Every span records its wall time and, as ``dur_s``, that time less the
share the host withheld from this virtual machine's CPUs while it ran:
CPU steal as a share of the CPU time that had work (steal + busy ticks in
``/proc/stat``). On a shared host steal varies between runs minutes
apart by tens of percent and slows every timing by about its share.
Steal accrues only on CPUs that have work, so this share does not depend
on how many CPUs the program keeps busy, as an average over all CPUs
would. It does not see other tenants' effect on shared caches and memory
bandwidth. The wall time stays in the record. With
tracing on, a span also

- runs its Spark jobs under a job group of its own (``pb-<n>``) and
  counts the jobs started while it is open that escape that group;
- counts the py4j commands the Python driver sends while it is open,
  excluding the object-release (``m``) messages, whose number follows
  Python's garbage collector rather than the work done;
- right after it closes, drains the listener bus and reads the status
  store: jobs, stages, tasks, task run/CPU/GC time and I/O bytes of the
  jobs started while it was open, and the Python-worker SQL metrics of
  the SQL executions that ran inside it. Reading per span rather than at the end matters
  because the status store evicts old jobs and executions in long runs.

Spans are kept in memory and written out once, at the end of the run.
"""

from __future__ import annotations

import contextlib
import json
import re
import threading
import time

import py4j.clientserver

# Spark 4.1's PythonSQLMetrics names on Arrow-UDF / mapInPandas nodes.
PYWORKER_METRICS = {
    "time to run Python workers": "pyworker.run_ms",
    "time to start Python workers": "pyworker.boot_ms",
    "time to initialize Python workers": "pyworker.init_ms",
    "data sent to Python workers": "pyworker.bytes_sent",
    "data returned from Python workers": "pyworker.bytes_received",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30,
          "TiB": 1 << 40, "ms": 1, "s": 1000, "m": 60_000, "h": 3_600_000}
_VALUE = re.compile(r"([0-9][0-9.,]*)\s*([A-Za-z]+)")


def parse_sql_metric(text: str) -> float:
    """The total of a formatted SQL metric value, in bytes or ms.

    The SQL status store keeps metric values only as display strings
    (``"total (min, med, max ...)\\n12.3 KiB (...)"``, or just
    ``"0 ms"``), so sizes carry three to four significant digits and
    times 0.1 s above one second.
    """
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    if not m:
        raise ValueError(f"unparsed SQL metric value {text!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


def cpu_ticks() -> tuple[int, int]:
    """``(steal, busy)`` clock ticks so far, summed over this machine's
    CPUs (``/proc/stat``). Steal is time a CPU had work but the host ran
    another tenant; busy is user, nice, system, irq and softirq time."""
    with open("/proc/stat") as f:
        user, nice, system, _idle, _iowait, irq, softirq, steal = (
            int(x) for x in f.readline().split()[1:9])
    return steal, user + nice + system + irq + softirq


class Py4jCounter:
    """Counts py4j commands sent by any Python thread while ``on``."""

    def __init__(self):
        self.on = False
        self.calls = 0
        self._lock = threading.Lock()
        self._orig = None

    def install(self) -> None:
        cls = py4j.clientserver.ClientServerConnection
        orig = self._orig = cls.send_command
        counter = self

        def send_command(conn, command):
            if counter.on and not command.startswith("m"):
                with counter._lock:
                    counter.calls += 1
            return orig(conn, command)

        cls.send_command = send_command

    def uninstall(self) -> None:
        if self._orig is not None:
            py4j.clientserver.ClientServerConnection.send_command = self._orig
            self._orig = None


class Stopwatch:
    """Wall time since creation, and that time less the share of busy
    CPU time the host withheld meanwhile."""

    def __init__(self):
        self.t0, self.ticks0 = time.perf_counter(), cpu_ticks()

    def split(self) -> tuple[float, float]:
        """``(wall seconds, wall seconds less the stolen share)``."""
        wall = time.perf_counter() - self.t0
        steal, busy = (b - a for a, b in zip(self.ticks0, cpu_ticks()))
        share = steal / (steal + busy) if steal else 0.0
        return wall, wall * (1.0 - share)

    def elapsed(self) -> float:
        return self.split()[1]


class Tracer:
    """Times spans; once ``set_enabled(True)``, also attributes layer
    counters.

    ``kind`` is ``"build"`` for calls that return a DataFrame (driver
    construction, including jobs they start eagerly) and ``"action"``
    for calls that execute work.
    """

    def __init__(self, spark):
        self.spark = spark
        self.enabled = False
        self.spans: list[dict] = []
        self._n = 0
        self._counter = Py4jCounter()
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        jvm = sc._jvm
        self._store = jsc.statusStore()
        self._bus = jsc.listenerBus()
        self._dag = jsc.dagScheduler()
        self._tracker = sc.statusTracker()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = jsc
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(jvm.com.fasterxml.jackson.module.scala,
                               "DefaultScalaModule$")
        self._mapper.registerModule(getattr(scala_module, "MODULE$"))

    def set_enabled(self, enabled: bool) -> None:
        if enabled and not self.enabled:
            self._counter.install()
        elif not enabled and self.enabled:
            self._counter.uninstall()
        self.enabled = enabled

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    @contextlib.contextmanager
    def span(self, name: str, kind: str, iteration: int, extra=None):
        rec = {"name": name, "kind": kind, "iter": iteration}
        if not self.enabled:
            watch = Stopwatch()
            try:
                yield rec
            finally:
                rec["wall_s"], rec["dur_s"] = watch.split()
                self.spans.append(rec)
            return
        self._n += 1
        group = f"pb-{self._n}"
        sc = self.spark.sparkContext
        sc.setJobGroup(group, name)
        exec0 = self._sql.executionsCount()
        job0 = self._dag.nextJobId()
        self._counter.calls = 0
        self._counter.on = True
        watch = Stopwatch()
        try:
            yield rec
        finally:
            rec["wall_s"], rec["dur_s"] = watch.split()
            self._counter.on = False
            rec["py4j_calls"] = self._counter.calls
            sc.setLocalProperty("spark.jobGroup.id", None)
            sc.setLocalProperty("spark.job.description", None)
            self._read_counters(rec, group, exec0, job0)
            self.spans.append(rec)

    def _read_counters(self, rec: dict, group: str, exec0: int,
                       job0: int) -> None:
        self._bus.waitUntilEmpty()
        # The benchmark submits nothing concurrently with a span, so every
        # job started while it was open is its own; those that did not
        # carry its group (AQE's broadcast and subquery futures, for one)
        # are counted as escaped.
        jobs = list(range(job0, self._dag.nextJobId()))
        rec["jobs"] = len(jobs)
        rec["escaped_jobs"] = len(
            set(jobs) - set(self._tracker.getJobIdsForGroup(group)))
        stage_ids: set[int] = set()
        for j in jobs:
            stage_ids.update(self._json(self._store.job(j))["stageIds"])
        sums = dict(stages=0, tasks=0, failed_tasks=0, run_ms=0, cpu_ns=0,
                    gc_ms=0, input_bytes=0, shuffle_write_bytes=0,
                    shuffle_read_bytes=0, output_bytes=0, spill_bytes=0)
        for sid in sorted(stage_ids):
            st = self._json(self._store.lastStageAttempt(sid))
            if st["status"] not in ("COMPLETE", "FAILED"):
                continue            # skipped: its shuffle output was reused
            sums["stages"] += 1
            sums["tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
            sums["failed_tasks"] += st["numFailedTasks"]
            sums["run_ms"] += st["executorRunTime"]
            sums["cpu_ns"] += st["executorCpuTime"]
            sums["gc_ms"] += st["jvmGcTime"]
            sums["input_bytes"] += st["inputBytes"]
            sums["shuffle_write_bytes"] += st["shuffleWriteBytes"]
            sums["shuffle_read_bytes"] += st["shuffleReadBytes"]
            sums["output_bytes"] += st["outputBytes"]
            sums["spill_bytes"] += st["diskBytesSpilled"]
        rec.update(sums)
        py = {v: 0.0 for v in PYWORKER_METRICS.values()}
        n_exec = self._sql.executionsCount() - exec0
        if n_exec > 0:
            execs = self._sql.executionsList(exec0, n_exec)
            for i in range(execs.size()):
                eid = execs.apply(i).executionId()
                metrics = self._json(execs.apply(i).metrics())
                wanted = {m["accumulatorId"]: PYWORKER_METRICS[m["name"]]
                          for m in metrics if m["name"] in PYWORKER_METRICS}
                if not wanted:
                    continue
                values = self._json(self._sql.executionMetrics(eid))
                for acc, key in wanted.items():
                    if str(acc) in values:
                        py[key] += parse_sql_metric(values[str(acc)])
        rec.update(py)
        status = self._json(self._jsc.getExecutorMemoryStatus())
        rec["storage_bytes"] = sum(mx - free for mx, free in status.values())

    def plan_ms(self, df) -> float:
        """Analysis + optimization + planning time of an executed frame."""
        if not self.enabled:
            return 0.0
        phases = self._json(df._jdf.queryExecution().tracker().phases())
        return float(sum(p["endTimeMs"] - p["startTimeMs"]
                         for k, p in phases.items()
                         if k in ("analysis", "optimization", "planning")))
