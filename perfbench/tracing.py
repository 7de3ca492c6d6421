"""Per-layer roll-ups from Spark's own status stores, plus spans.

Every benchmark call runs its three phases under their own job groups
(``<call id>:build`` / ``:plan`` / ``:exec``).  After a traced call the
listener bus is drained and the call's jobs, stages and SQL executions
are read back from

* ``sc._jsc.sc().statusStore()`` (jobs, per-stage task metrics, task-time
  quantiles), and
* ``spark._jsparkSession.sharedState().statusStore()`` (SQL plan metrics:
  scan time and the Python-worker times and bytes).

Both stores are populated with ``spark.ui.enabled=false``.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

PHASES = ("build", "plan", "exec")
#: per-layer metric prefix of each phase's job counts
_PHASE_LAYER = {"build": "build", "plan": "catalyst", "exec": "executor"}

_UNIT_SCALE = {
    "ns": 1e-9, "µs": 1e-6, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0,
    "h": 3600.0, "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30,
    "TiB": 2.0**40, "PiB": 2.0**50, "EiB": 2.0**60,
}

#: SQL plan metric name → per-layer metric it adds to.
_SQL_METRICS = {
    "scan time": "sources.scan_s",
    "time to run Python workers": "udf.python_s",
    "time to start Python workers": "udf.boot_s",
    "time to initialize Python workers": "udf.boot_s",
    "data sent to Python workers": "udf.sent_bytes",
    "data returned from Python workers": "udf.received_bytes",
}

_NODE = re.compile(r"^[\s:|+\-]*(?:\*\(\d+\)\s+)?([A-Za-z][A-Za-z0-9]*)")


def sql_metric_value(text: str) -> float:
    """Parse a formatted SQL metric (``"1.8 s"``, ``"653.0 KiB"``, or the
    ``"total (min, med, max ...)\\n11 ms (...)"`` form) to seconds or
    bytes."""
    line = text.strip().split("\n")[-1].replace(",", "")
    num, unit = line.split()[:2]
    return float(num) * _UNIT_SCALE[unit]


def plan_shape(plan_text: str) -> dict[str, int]:
    """Operator counts of an executed-plan tree string."""
    ops = [m.group(1) for m in map(_NODE.match, plan_text.splitlines()) if m]
    return {
        "catalyst.nodes": len(ops),
        "catalyst.exchanges": sum(op.endswith("Exchange") for op in ops),
        "catalyst.windows": sum(op.startswith("Window") for op in ops),
        "catalyst.single_partition": plan_text.count("SinglePartition"),
        "catalyst.python_nodes": sum(
            "Python" in op or "InPandas" in op or "InArrow" in op for op in ops
        ),
    }


@dataclass
class Span:
    id: int
    parent: int | None
    name: str
    start: float  # epoch seconds
    end: float
    attrs: dict = field(default_factory=dict)


class Spans:
    """In-memory span list: call → phase → job; written out at the end."""

    def __init__(self) -> None:
        self.items: list[Span] = []

    def add(self, parent: int | None, name: str, start: float, end: float,
            **attrs) -> int:
        sid = len(self.items)
        self.items.append(Span(sid, parent, name, start, end, attrs))
        return sid

    def as_json(self) -> list[dict]:
        return [s.__dict__ for s in self.items]


def _seq(scala_seq) -> list:
    return [scala_seq.apply(i) for i in range(scala_seq.size())]


def _union_s(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


class StatusStore:
    """Reads one call's jobs, stages and SQL executions back from Spark."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        jsc = self.sc._jsc.sc()
        self._jvm = self.sc._jvm
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = self.sc._gateway.new_array(self._jvm.double, 2)
        self._quantiles[0], self._quantiles[1] = 0.5, 1.0
        self._no_quantiles = self.sc._gateway.new_array(self._jvm.double, 0)
        self._exec_seen = self._sql.executionsCount()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def job_ids(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def stage_ids(self, job_id: int) -> list[int]:
        return _seq(self._store.job(job_id).stageIds())

    def jobs(self, group: str) -> list[dict]:
        """The group's jobs: id, epoch start / end (None if unknown), stages."""
        out = []
        for jid in self.job_ids(group):
            jd = self._store.job(jid)
            sub, done = jd.submissionTime(), jd.completionTime()
            out.append({
                "id": jid,
                "start": sub.get().getTime() / 1e3 if sub.isDefined() else None,
                "end": done.get().getTime() / 1e3 if done.isDefined() else None,
                "stages": _seq(jd.stageIds()),
            })
        return out

    def stage_totals(self, stage_ids: set[int]) -> dict[str, float]:
        """Task metrics summed over the stages that ran, and the task skew
        (slowest ÷ median task run time) of the longest one."""
        t = {
            "executor.stages": 0, "executor.tasks": 0, "executor.run_s": 0.0,
            "executor.cpu_s": 0.0, "executor.gc_s": 0.0,
            "executor.spill_bytes": 0, "executor.shuffle_read_bytes": 0,
            "executor.shuffle_write_bytes": 0, "sources.input_rows": 0,
            "sources.input_bytes": 0, "executor.task_skew": 1.0,
        }
        longest = (-1.0, None, None)
        for sid in sorted(stage_ids):
            attempts = self._store.stageData(
                sid, False, self._jvm.java.util.ArrayList(), False,
                self._no_quantiles,
            )
            for i in range(attempts.size()):
                sd = attempts.apply(i)
                if sd.status().toString() == "SKIPPED":
                    continue
                run_s = sd.executorRunTime() / 1e3
                t["executor.stages"] += 1
                t["executor.tasks"] += sd.numTasks()
                t["executor.run_s"] += run_s
                t["executor.cpu_s"] += sd.executorCpuTime() / 1e9
                t["executor.gc_s"] += sd.jvmGcTime() / 1e3
                t["executor.spill_bytes"] += sd.memoryBytesSpilled() + sd.diskBytesSpilled()
                t["executor.shuffle_read_bytes"] += sd.shuffleReadBytes()
                t["executor.shuffle_write_bytes"] += sd.shuffleWriteBytes()
                t["sources.input_rows"] += sd.inputRecords()
                t["sources.input_bytes"] += sd.inputBytes()
                if run_s > longest[0]:
                    longest = (run_s, sid, sd.attemptId())
        if longest[1] is not None:
            summary = self._store.taskSummary(longest[1], longest[2], self._quantiles)
            if summary.isDefined():
                rt = summary.get().executorRunTime()
                med, top = rt.apply(0), rt.apply(1)
                t["executor.task_skew"] = top / med if med > 0 else 1.0
        return t

    def sql_totals(self, job_ids: set[int]) -> dict[str, float]:
        """Sum the SQL metrics of the executions recorded since the last
        roll-up that ran any of ``job_ids``."""
        totals = {name: 0.0 for name in set(_SQL_METRICS.values())}
        count = self._sql.executionsCount()
        start = max(0, min(self._exec_seen, count))
        execs = self._sql.executionsList(start, count - start)
        self._exec_seen = count
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = ex.jobs().keySet()
            if not any(jobs.contains(j) for j in job_ids):
                continue
            names = {}
            it = ex.metrics().iterator()
            while it.hasNext():
                m = it.next()
                if m.name() in _SQL_METRICS:
                    names[m.accumulatorId()] = _SQL_METRICS[m.name()]
            values = self._sql.executionMetrics(ex.executionId())
            for acc, metric in names.items():
                v = values.get(acc)
                if v.isDefined():
                    totals[metric] += sql_metric_value(v.get())
        return totals

    def skip_executions(self) -> None:
        """Mark every SQL execution so far as rolled up."""
        self._exec_seen = self._sql.executionsCount()


def rollup_call(store: StatusStore, call_id: str, phase_wall: dict[str, tuple],
                spans: Spans) -> dict[str, float]:
    """Per-layer numbers for one finished call; adds job spans under the
    phase spans.  ``phase_wall`` maps phase → (span id, start, end)."""
    store.drain()
    row: dict[str, float] = {}
    all_jobs: set[int] = set()
    stage_ids: set[int] = set()
    for phase in PHASES:
        span_id, p_start, p_end = phase_wall[phase]
        jobs = store.jobs(f"{call_id}:{phase}")
        intervals = []
        for j in jobs:
            all_jobs.add(j["id"])
            stage_ids.update(j["stages"])
            if j["start"] is not None and j["end"] is not None:
                intervals.append((j["start"], j["end"]))
                spans.add(span_id, f"job {j['id']}", j["start"], j["end"],
                          stages=j["stages"])
        layer = _PHASE_LAYER[phase]
        row[f"{layer}.jobs"] = len(jobs)
        row[f"{layer}.job_s"] = sum(e - s for s, e in intervals)
        row[f"{layer}.driver_s"] = max(0.0, (p_end - p_start) - _union_s(intervals))
    row.update(store.stage_totals(stage_ids))
    row.update(store.sql_totals(all_jobs))
    return row
