"""Measurement from outside the engine: spans, an exact py4j call
counter, CPU time from ``/proc``, and readers of Spark's own status
stores.

Nothing here changes what the engine does. Spans are kept in memory by
:class:`Tracer` and written into the run record at the end. The status
readers pull per-job, per-stage and per-SQL-operator figures after a call
has finished, serialising each JVM object to JSON in one py4j round trip
(Spark's REST API classes are Jackson-annotated).
"""

from __future__ import annotations

import json
import os
import re
import threading
import time


class Py4jCounter:
    """Counts the py4j commands this process sends to the JVM.

    py4j also sends an ``m\\n`` memory-release command whenever a JVM
    object proxy is garbage collected; how many depends on when the
    Python GC runs, so those are skipped and the count is exact."""

    def __init__(self, gateway_client):
        self.calls = 0
        self._lock = threading.Lock()
        send = gateway_client.send_command

        def counted(command, *args, **kwargs):
            if not command.startswith("m\n"):
                with self._lock:
                    self.calls += 1
            return send(command, *args, **kwargs)

        gateway_client.send_command = counted


_TICK = os.sysconf("SC_CLK_TCK")


def _stat(path: str) -> list[str]:
    """Fields of a ``/proc`` stat file after the command name."""
    with open(path) as fh:
        return fh.read().rsplit(")", 1)[1].split()


def _ticks(fields: list[str]) -> int:
    return int(fields[11]) + int(fields[12])


def tree_cpu_s(pid: int) -> tuple[float, float]:
    """CPU seconds (user plus system) of ``pid`` and every live
    descendant (the JVM and the Python workers it starts), as ``(all,
    work)``: ``work`` leaves out the JVM's JIT compiler threads. The JIT
    compiles for minutes after a session starts and takes a third or more
    of the CPU of a steady pass; how much depends on how far warm-up has
    got, not on the engine's work."""
    parent = {}
    for d in os.listdir("/proc"):
        if d.isdigit():
            try:
                parent[int(d)] = int(_stat(f"/proc/{d}/stat")[1])
            except OSError:
                continue
    total = work = 0
    todo = [pid]
    while todo:
        p = todo.pop()
        todo += [c for c, pp in parent.items() if pp == p]
        try:
            total += _ticks(_stat(f"/proc/{p}/stat"))
            tids = os.listdir(f"/proc/{p}/task")
        except OSError:
            continue
        for t in tids:
            try:
                with open(f"/proc/{p}/task/{t}/comm") as fh:
                    if "CompilerThre" in fh.read():
                        continue
                work += _ticks(_stat(f"/proc/{p}/task/{t}/stat"))
            except OSError:
                continue
    return total / _TICK, work / _TICK


def host_cpu_ticks() -> list[int]:
    """The ``cpu`` line of ``/proc/stat``: user, nice, system, idle,
    iowait, irq, softirq, steal, ..."""
    with open("/proc/stat") as fh:
        return [int(x) for x in fh.readline().split()[1:]]


def steal_frac(before: list[int], after: list[int]) -> float:
    d = [b - a for a, b in zip(before, after)]
    return d[7] / sum(d) if sum(d) else 0.0


class Tracer:
    """In-memory spans: ``(id, parent, trace, name, start_s, end_s, attrs)``.

    A trace is one call into the engine; its id is also the Spark job
    group, so the status-store figures join to the spans by that id."""

    def __init__(self):
        self.spans: list[dict] = []
        self._origin = time.perf_counter()

    def add(self, name: str, trace: str, parent: str | None,
            start: float, end: float, **attrs) -> str:
        sid = f"{trace}/{len(self.spans)}"
        self.spans.append({
            "id": sid, "parent": parent, "trace": trace, "name": name,
            "start_s": round(start - self._origin, 6),
            "end_s": round(end - self._origin, 6), **attrs})
        return sid


_UNITS = {"ms": 1e-3, "s": 1.0, "min": 60.0, "h": 3600.0, "ns": 1e-9,
          "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
          "TiB": 2.0 ** 40, "": 1.0}
_VALUE = re.compile(r"([0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def metric_value(text: str | None) -> float:
    """A SQL metric's display string as a number in seconds, bytes or
    rows. Per-task metrics display as ``total (min, med, max ...)\\n<total>
    (...)``; the total is what is kept."""
    if not text:
        return 0.0
    m = _VALUE.search(text.rsplit("\n", 1)[-1])
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


#: status-store figures summed over one call, with the layer they belong to
STAGE_FIELDS = {
    "exec.task_s": ("executorRunTime", 1e-3),
    "exec.gc_s": ("jvmGcTime", 1e-3),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "sources.input_bytes": ("inputBytes", 1),
    "sources.input_rows": ("inputRecords", 1),
}


class StatusReader:
    """Reads the job, stage and SQL status stores of one session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jvm = sc._jvm
        scala = getattr(jvm.com.fasterxml.jackson.module.scala,
                        "DefaultScalaModule$").__getattr__("MODULE$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        self._mapper.registerModule(scala)
        self._jsc = sc._jsc.sc()
        self._store = self._jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._tracker = sc.statusTracker()
        self._quantiles = sc._gateway.new_array(jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0
        self._next_execution = 0

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def mark(self) -> None:
        """Start the next :meth:`sql_figures` at the executions to come."""
        self._jsc.listenerBus().waitUntilEmpty()
        self._next_execution = self._sql.executionsCount()

    def job_ids(self, group: str) -> set[int]:
        """Jobs of ``group`` once every listener event has been applied."""
        self._jsc.listenerBus().waitUntilEmpty()
        return set(self._tracker.getJobIdsForGroup(group))

    def jobs(self, ids) -> list[dict]:
        return [self._json(self._store.job(j)) for j in sorted(ids)]

    def stage_figures(self, jobs: list[dict]) -> dict:
        out = {k: 0.0 for k in STAGE_FIELDS}
        out.update({"exec.stages": 0, "exec.tasks": 0, "exec.spill_bytes": 0,
                    "exec.task_skew": 0.0})
        for sid in sorted({s for j in jobs for s in j["stageIds"]}):
            st = self._json(self._store.lastStageAttempt(sid))
            if st["status"] == "SKIPPED":
                continue
            out["exec.stages"] += 1
            out["exec.tasks"] += st["numCompleteTasks"]
            out["exec.spill_bytes"] += (st["memoryBytesSpilled"]
                                        + st["diskBytesSpilled"])
            for name, (field, scale) in STAGE_FIELDS.items():
                out[name] += st[field] * scale
            if st["numCompleteTasks"] >= 2:
                summary = self._store.taskSummary(sid, st["attemptId"],
                                                  self._quantiles)
                if summary.isDefined():
                    med, mx = self._json(summary.get())["executorRunTime"]
                    if med > 0:
                        out["exec.task_skew"] = max(out["exec.task_skew"],
                                                    mx / med)
        return out

    def sql_figures(self) -> dict:
        """Operator metrics of every SQL execution since the last read."""
        out = {"operators.udf_s": 0.0, "operators.udf_rows": 0.0,
               "sources.scan_s": 0.0, "sources.bytes_written": 0.0,
               "sources.files_written": 0.0}
        self._jsc.listenerBus().waitUntilEmpty()
        while True:
            ex = self._sql.execution(self._next_execution)
            if not ex.isDefined():
                break
            eid = self._next_execution
            self._next_execution += 1
            values = self._json(self._sql.executionMetrics(eid))
            for node in self._json(self._sql.planGraph(eid).allNodes()):
                m = {x["name"]: values.get(str(x["accumulatorId"]))
                     for x in node.get("metrics", [])}
                if "time to run Python workers" in m:
                    out["operators.udf_s"] += metric_value(m["time to run Python workers"])
                    out["operators.udf_rows"] += metric_value(m.get("number of output rows"))
                if node["name"].startswith("Scan "):
                    out["sources.scan_s"] += metric_value(m.get("scan time"))
                if "number of written files" in m:
                    out["sources.files_written"] += metric_value(m["number of written files"])
                    out["sources.bytes_written"] += metric_value(m.get("written output"))
        return out
