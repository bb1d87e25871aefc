"""Layer probes, read from outside the engine.

Everything here observes a running session through public or status-store
interfaces: py4j round trips are counted by wrapping the client's
``send_command``; Spark jobs, stages and SQL executions are read from the
application status store; Catalyst phase times come from the query
execution's phase tracker. Spans are kept in memory and written out once,
when the run ends.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

STAGE_FIELDS = {
    # metric name -> (StageData getter, scale)
    "exec.tasks": ("numTasks", 1),
    "exec.run_s": ("executorRunTime", 1e-3),
    "exec.shuffle_write_bytes": ("shuffleWriteBytes", 1),
    "exec.shuffle_read_bytes": ("shuffleReadBytes", 1),
    "exec.spill_bytes": ("diskBytesSpilled", 1),
    "exec.input_bytes": ("inputBytes", 1),
    "exec.gc_s": ("jvmGcTime", 1e-3),
}
PYTHON_METRICS = {
    "data sent to Python workers": "python.bytes_sent",
    "data returned from Python workers": "python.bytes_received",
}
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}


class Spans:
    """In-memory span log: name, start, end, parent span and op id."""

    def __init__(self):
        self.records: list[dict] = []
        self._stack: list[int] = []
        self.op = None

    @contextmanager
    def span(self, name: str):
        rec = {
            "id": len(self.records),
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
            "start": time.perf_counter(),
        }
        self.records.append(rec)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.records, f)


class Py4jCounter:
    """Counts py4j round trips while ``active``."""

    def __init__(self):
        from py4j.clientserver import ClientServerConnection

        self.calls = 0
        self.active = False
        self._cls = ClientServerConnection
        self._orig = ClientServerConnection.send_command
        counter = self

        def send_command(conn, command, *args, **kwargs):
            if counter.active:
                counter.calls += 1
            return counter._orig(conn, command, *args, **kwargs)

        ClientServerConnection.send_command = send_command

    def restore(self) -> None:
        self._cls.send_command = self._orig


class StatusStore:
    """Deltas of the application status store between two marks."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self.mark()

    def mark(self) -> None:
        """Start the next deltas from the present."""
        self.stage_mark = self._max_stage_id()
        self.exec_mark = self._max_execution_id()

    def _stages(self):
        empty = self.sc._gateway.new_array(self.sc._jvm.double, 0)
        return self._store.stageList(None, False, False, empty, None)

    def _max_stage_id(self) -> int:
        stages = self._stages()
        return max((stages.apply(i).stageId() for i in range(stages.size())), default=-1)

    def _max_execution_id(self) -> int:
        execs = self._sql.executionsList()
        return max(
            (execs.apply(i).executionId() for i in range(execs.size())), default=-1
        )

    def stage_delta(self) -> dict:
        """Sum the metrics of stages completed since the last call (the
        list is newest first)."""
        stages = self._stages()
        out = {name: 0.0 for name in STAGE_FIELDS}
        out["exec.stages"] = 0
        top = self.stage_mark
        for i in range(stages.size()):
            st = stages.apply(i)
            sid = st.stageId()
            if sid <= self.stage_mark:
                break
            top = max(top, sid)
            out["exec.stages"] += 1
            for name, (getter, scale) in STAGE_FIELDS.items():
                out[name] += getattr(st, getter)() * scale
        self.stage_mark = top
        return out

    def python_delta(self) -> dict:
        """Sum the Python-boundary SQL metrics of executions since the last
        call."""
        out = {name: 0.0 for name in PYTHON_METRICS.values()}
        execs = self._sql.executionsList()
        top = self.exec_mark
        for i in range(execs.size()):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self.exec_mark:
                continue
            top = max(top, eid)
            wanted = {}
            metrics = ex.metrics()
            for j in range(metrics.size()):
                m = metrics.apply(j)
                if m.name() in PYTHON_METRICS:
                    wanted[m.accumulatorId()] = PYTHON_METRICS[m.name()]
            if not wanted:
                continue
            values = self._sql.executionMetrics(eid)
            for acc, name in wanted.items():
                text = values.get(acc)  # a scala.Option
                if not text.isEmpty():
                    out[name] += _parse_size(str(text.get()))
        self.exec_mark = top
        return out

    def jobs_in_group(self, group: str) -> int:
        return len(self.sc.statusTracker().getJobIdsForGroup(group))

    def persisted_rdds(self) -> int:
        return self.sc._jsc.getPersistentRDDs().size()


def _parse_size(text: str) -> float:
    """First size in a formatted SQL size metric, e.g.
    ``"total (min, med, max)\\n1.5 MiB (...)"`` -> bytes."""
    m = re.search(r"([0-9.]+)\s*(B|KiB|MiB|GiB|TiB)\b", text)
    return float(m.group(1)) * _UNITS[m.group(2)] if m else 0.0


def plan_phases_s(jdf) -> float:
    """Force physical planning of a DataFrame and return the analysis +
    optimization + planning time Catalyst's phase tracker recorded."""
    qe = jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    total_ms = 0
    for phase in ("analysis", "optimization", "planning"):
        summary = phases.get(phase)
        if summary is not None and not summary.isEmpty():
            total_ms += summary.get().durationMs()
    return total_ms / 1000.0
