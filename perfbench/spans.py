"""Tracing for the benchmark's traced run.

Spans are recorded only around the benchmark's own calls into the
program (run → pass → key → build / plan / exec, plus plane rows as
children of the key that triggered them). Counts come from Spark's
status stores, read after each key under that key's job group:

* jobs, stages, tasks, shuffle bytes, executor run / CPU / GC time from
  ``statusTracker()`` and ``statusStore().lastStageAttempt``;
* Catalyst phase times from ``queryExecution().tracker().phases()``;
* Python-kernel rows and bytes from the SQL status store's plan graph
  (the ``*Python*`` / ``*Pandas*`` / ``*Arrow*`` operators).

Everything is kept in memory and written once by :meth:`Tracer.dump`.
"""

from __future__ import annotations

import json
import re
import time

from py4j.protocol import Py4JJavaError

_PHASES = ("analysis", "optimization", "planning")
_PY_NODE = re.compile(r"Python|Pandas|Arrow", re.I)
_UNITS = {"B": 1, "KiB": 1 << 10, "MiB": 1 << 20, "GiB": 1 << 30, "TiB": 1 << 40}
# per-key counts read from the status stores
COUNTERS = ("jobs", "stages", "tasks", "shuffle_read_bytes",
            "shuffle_write_bytes", "executor_run_s", "executor_cpu_s",
            "gc_s", "kernel_rows_from_python", "kernel_bytes_to_python",
            "kernel_bytes_from_python")
PHASE_KEYS = tuple(f"{p}_s" for p in _PHASES)


def _metric_value(text: str) -> float:
    """Parse a SQL-metric display string (``"1,234"``, ``"12.3 KiB"`` or
    the ``"total (min, med, max ...)\\n12.3 KiB (...)"`` form)."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = re.match(r"\s*([0-9][0-9,]*(?:\.[0-9]+)?)\s*([KMGT]?i?B)?", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2) or "B", 1)


class Tracer:
    """In-memory span and counter recorder for one traced run."""

    def __init__(self, spark):
        self.spark = spark
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._group = 0
        self._last_exec = -1

    # -- spans -------------------------------------------------------------
    def open(self, name: str, **attrs) -> int:
        sid = len(self.spans)
        self.spans.append({"id": sid, "parent": self._stack[-1] if self._stack else None,
                           "name": name, "start": time.perf_counter(), "end": None,
                           **attrs})
        self._stack.append(sid)
        return sid

    def close(self, sid: int, **attrs) -> float:
        span = self.spans[sid]
        span["end"] = time.perf_counter()
        span.update(attrs)
        self._stack.pop()
        return span["end"] - span["start"]

    def unwind(self, to: int) -> None:
        """Close every span opened after ``to`` (a failed operation)."""
        while self._stack and self._stack[-1] != to:
            self.close(self._stack[-1], failed=True)

    def child(self, name: str, seconds: float, **attrs) -> None:
        """A completed child span of the open span whose duration was
        measured by the program (a plane build row)."""
        self.spans.append({"id": len(self.spans), "parent": self._stack[-1] if self._stack else None,
                           "name": name, "start": None, "end": None,
                           "seconds": seconds, **attrs})

    # -- per-key counters ---------------------------------------------------
    def begin_key(self, key: str) -> str:
        self._group += 1
        group = f"bench-{self._group}"
        self.spark.sparkContext.setJobGroup(group, key)
        return group

    def end_key(self) -> None:
        self.spark.sparkContext._jsc.clearJobGroup()

    @staticmethod
    def phases(df) -> dict[str, float]:
        """Catalyst phase seconds of ``df``'s own query execution; forces
        optimization and physical planning of that execution."""
        qe = df._jdf.queryExecution()
        qe.executedPlan()
        ph = qe.tracker().phases()
        out = {}
        for p in _PHASES:
            o = ph.get(p)
            out[f"{p}_s"] = o.get().durationMs() / 1000.0 if o.isDefined() else 0.0
        return out

    def counts(self, group: str) -> dict[str, float]:
        """Job/stage/task/shuffle counts and kernel rows of one group."""
        sc = self.spark.sparkContext
        st = sc.statusTracker()
        store = sc._jsc.sc().statusStore()
        job_ids = list(st.getJobIdsForGroup(group))
        # the status listener runs asynchronously: wait until every job
        # of the group is recorded as finished so stage metrics are final
        deadline = time.perf_counter() + 5.0
        while time.perf_counter() < deadline:
            infos = [st.getJobInfo(j) for j in job_ids]
            if all(i is not None and i.status != "RUNNING" for i in infos):
                break
            time.sleep(0.01)
        c = dict.fromkeys(COUNTERS, 0.0)
        c["jobs"] = len(job_ids)
        for j in job_ids:
            info = st.getJobInfo(j)
            for s in (info.stageIds if info else []):
                try:
                    sd = store.lastStageAttempt(s)
                except Py4JJavaError:  # stage evicted from the store
                    continue
                if sd.status().toString() != "COMPLETE":
                    continue  # skipped (reused shuffle) stages ran no tasks
                c["stages"] += 1
                c["tasks"] += sd.numTasks()
                c["shuffle_read_bytes"] += sd.shuffleReadBytes()
                c["shuffle_write_bytes"] += sd.shuffleWriteBytes()
                c["executor_run_s"] += sd.executorRunTime() / 1e3
                c["executor_cpu_s"] += sd.executorCpuTime() / 1e9
                c["gc_s"] += sd.jvmGcTime() / 1e3
        c.update(self._kernel_counts(set(job_ids)))
        return c

    def _kernel_counts(self, job_ids: set[int]) -> dict[str, float]:
        sql = self.spark._jsparkSession.sharedState().statusStore()
        n = sql.executionsCount()
        recent = sql.executionsList(max(n - 64, 0), 64)
        out = {"kernel_rows_from_python": 0.0, "kernel_bytes_to_python": 0.0,
               "kernel_bytes_from_python": 0.0}
        it = recent.iterator()
        while it.hasNext():
            ex = it.next()
            eid = ex.executionId()
            if eid <= self._last_exec:
                continue
            jobs = ex.jobs().keySet().iterator()
            mine = False
            while jobs.hasNext():
                mine |= int(jobs.next()) in job_ids
            if not mine:
                continue
            self._last_exec = max(self._last_exec, eid)
            values = sql.executionMetrics(eid)
            nodes = sql.planGraph(eid).allNodes().iterator()
            while nodes.hasNext():
                node = nodes.next()
                if not _PY_NODE.search(node.name()):
                    continue
                ms = node.metrics().iterator()
                while ms.hasNext():
                    m = ms.next()
                    v = values.get(m.accumulatorId())
                    if not v.isDefined():
                        continue
                    name = m.name()
                    if name == "number of output rows":
                        out["kernel_rows_from_python"] += _metric_value(v.get())
                    elif name == "data sent to Python workers":
                        out["kernel_bytes_to_python"] += _metric_value(v.get())
                    elif name == "data returned from Python workers":
                        out["kernel_bytes_from_python"] += _metric_value(v.get())
        return out

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans if s["start"] is not None), default=0.0)
        spans = []
        for s in self.spans:
            s = dict(s)
            if s["start"] is not None:
                s["seconds"] = s["end"] - s["start"]
                s["start"] -= t0
                s["end"] -= t0
            spans.append(s)
        with open(path, "w") as f:
            json.dump({**extra, "spans": spans}, f, indent=1, default=str)
