"""Spans around the benchmark's calls into the engine, and per-layer rollups
read back from Spark's own bookkeeping.

The benchmark measures every layer from outside: it times its own calls
into each layer's public functions. With tracing on, each call runs under
``setJobGroup(span_id)``; when the call returns, :class:`SparkProbe` reads
the jobs of that group from ``statusTracker`` and the status stores
(stage metrics, task-time quantiles, per-operator SQL metrics) and rolls
them up into the layer metrics listed in ``perfbench/README.md``.

With tracing off no job group is set and nothing is read back, so the
end-to-end numbers carry no tracing cost.
"""

from __future__ import annotations

import re
import time
from contextlib import contextmanager

# plan nodes that cross the JVM <-> Python worker boundary
_PY_NODE = re.compile(r"Python|Pandas|InArrow")
_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0**10, "MiB": 2.0**20, "GiB": 2.0**30, "TiB": 2.0**40,
}

# (node kind, SQL metric name) -> layer metric
_SQL_METRICS = {
    ("scan", "size of files read"): "scan.input_bytes",
    ("scan", "scan time"): "scan.run_s",
    ("py", "time to run Python workers"): "python.worker_run_s",
    ("py", "time to start Python workers"): "python.worker_start_s",
    ("py", "number of output rows"): "python.rows",
}

# counters summed over the spans of one workload cycle
SUM_KEYS = (
    "exec.jobs", "exec.stages", "exec.tasks", "queries.build_jobs",
    "driver.gap_s", "scan.input_bytes", "scan.run_s",
    "exchange.shuffle_write_bytes", "exchange.shuffle_read_bytes",
    "exchange.fetch_wait_s", "jvm.executor_run_s", "jvm.executor_cpu_s",
    "jvm.gc_s", "jvm.spill_bytes", "python.worker_run_s",
    "python.worker_start_s", "python.rows",
)


def parse_metric(text: str) -> float:
    """Value of one rendered SQL metric, in seconds, bytes or a count.

    Spark renders accumulated metrics either as a bare value (``"208 ms"``,
    ``"1,024"``) or as ``"total (min, med, max ...)\\n<total> (...)"``; the
    total is the first value of the last line."""
    head = text.strip().splitlines()[-1].split(" (", 1)[0].strip()
    parts = head.split()
    num = float(parts[0].replace(",", ""))
    return num * _UNITS[parts[1]] if len(parts) > 1 else num


def union_len(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` clipped to ``[lo, hi]``."""
    total, cur_a, cur_b = 0.0, None, None
    for a, b in sorted((max(a, lo), min(b, hi)) for a, b in intervals):
        if b <= a:
            continue
        if cur_b is None or a > cur_b:
            if cur_b is not None:
                total += cur_b - cur_a
            cur_a, cur_b = a, b
        else:
            cur_b = max(cur_b, b)
    if cur_b is not None:
        total += cur_b - cur_a
    return total


def _seq(x) -> list:
    """A Scala ``Seq`` as a Python list."""
    return [x.apply(i) for i in range(x.size())]


class SparkProbe:
    """Reads one span's jobs, stages and SQL operator metrics back from a
    live SparkContext."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.jsc = self.sc._jsc.sc()
        self.store = self.jsc.statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        gw, jvm = self.sc._gateway, self.sc._jvm
        self._no_quantiles = gw.new_array(jvm.double, 0)
        self._med_max = gw.new_array(jvm.double, 2)
        self._med_max[0], self._med_max[1] = 0.5, 1.0

    def set_group(self, group: str | None) -> None:
        if group is None:
            self.sc.setLocalProperty("spark.jobGroup.id", None)
            self.sc.setLocalProperty("spark.job.description", None)
        else:
            self.sc.setJobGroup(group, group, False)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event, so the
        status stores hold the finished span's numbers."""
        self.jsc.listenerBus().waitUntilEmpty()

    def group_jobs(self, group: str) -> list[int]:
        return sorted(self.sc.statusTracker().getJobIdsForGroup(group))

    def job_window(self, job_id: int) -> tuple[float, float]:
        jd = self.store.job(job_id)
        start = jd.submissionTime().get().getTime() / 1e3
        end = jd.completionTime()
        return start, (end.get().getTime() / 1e3 if end.isDefined() else time.time())

    def job_tasks(self, job_id: int) -> int:
        return int(self.store.job(job_id).numCompletedTasks())

    def _stages(self, job_ids: list[int]) -> list:
        seen, out = set(), []
        for j in job_ids:
            for sid in self.sc.statusTracker().getJobInfo(j).stageIds:
                for s in _seq(
                    self.store.stageData(sid, False, None, False, self._no_quantiles)
                ):
                    key = (s.stageId(), s.attemptId())
                    if key in seen or s.status().toString() == "SKIPPED":
                        continue
                    seen.add(key)
                    out.append(s)
        return out

    def _straggler(self, stages: list) -> float:
        """max / median task run time of the heaviest multi-task stage."""
        multi = [s for s in stages if s.numTasks() > 1]
        if not multi:
            return 1.0
        heavy = max(multi, key=lambda s: s.executorRunTime())
        summary = self.store.taskSummary(
            heavy.stageId(), heavy.attemptId(), self._med_max
        )
        if not summary.isDefined():
            return 1.0
        rt = summary.get().executorRunTime()
        med, mx = rt.apply(0), rt.apply(1)
        return mx / med if med > 0 else 1.0

    def _sql(self, job_ids: set[int]) -> dict[str, float]:
        """Operator metrics of the SQL executions that ran ``job_ids``: the
        Parquet scans' bytes and time, and the Python-boundary nodes'
        worker time and rows."""
        out = dict.fromkeys(_SQL_METRICS.values(), 0.0)
        for e in _seq(self.sql_store.executionsList()):
            eid = e.executionId()
            if not {int(j) for j in _seq(e.jobs().keys().toSeq())} & job_ids:
                continue
            vals = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                kind = ("py" if _PY_NODE.search(node.name())
                        else "scan" if node.name().startswith("Scan ") else None)
                for m in _seq(node.metrics()) if kind else ():
                    key = _SQL_METRICS.get((kind, m.name()))
                    v = vals.get(m.accumulatorId())
                    if key and v.isDefined():
                        out[key] += parse_metric(v.get())
        return out

    def rollup(self, groups: list[str], start: float, end: float,
               build_group: str | None = None) -> dict[str, float]:
        """Layer counters for the jobs of ``groups`` within ``[start, end]``."""
        self.drain()
        job_ids = sorted({j for g in groups for j in self.group_jobs(g)})
        stages = self._stages(job_ids)
        windows = [self.job_window(j) for j in job_ids]
        run_ms = sum(s.executorRunTime() for s in stages)
        r = {
            "exec.jobs": float(len(job_ids)),
            "exec.stages": float(len(stages)),
            "exec.tasks": float(sum(s.numCompleteTasks() for s in stages)),
            "queries.build_jobs": float(
                len(self.group_jobs(build_group)) if build_group else 0
            ),
            "driver.gap_s": (end - start) - union_len(windows, start, end),
            "exchange.shuffle_write_bytes": float(
                sum(s.shuffleWriteBytes() for s in stages)
            ),
            "exchange.shuffle_read_bytes": float(
                sum(s.shuffleReadBytes() for s in stages)
            ),
            "exchange.fetch_wait_s": sum(
                s.shuffleFetchWaitTime() for s in stages
            ) / 1e3,
            "jvm.executor_run_s": run_ms / 1e3,
            "jvm.executor_cpu_s": sum(s.executorCpuTime() for s in stages) / 1e9,
            "jvm.gc_s": sum(s.jvmGcTime() for s in stages) / 1e3,
            "jvm.spill_bytes": float(
                sum(s.memoryBytesSpilled() + s.diskBytesSpilled() for s in stages)
            ),
            "straggler.max_over_median": self._straggler(stages),
            "job_tasks_total": float(sum(self.job_tasks(j) for j in job_ids)),
        }
        r.update(self._sql(set(job_ids)))
        return r


class Tracer:
    """Spans with a name, start, end and parent, kept in memory and written
    out when the run ends. ``probe`` is None when tracing is off."""

    def __init__(self, probe: SparkProbe | None):
        self.probe = probe
        self.spans: list[dict] = []

    @property
    def enabled(self) -> bool:
        return self.probe is not None

    @contextmanager
    def span(self, name: str, parent: dict | None = None, traced: bool = True,
             **attrs):
        """Time one call. When tracing is on (and ``traced``), the call's
        Spark jobs run under job group ``<span id>``."""
        rec = {
            "id": f"s{len(self.spans)}",
            "name": name,
            "parent": parent["id"] if parent else None,
            "traced": bool(self.enabled and traced),
            **attrs,
        }
        self.spans.append(rec)
        if rec["traced"]:
            self.probe.set_group(rec["id"])
        rec["start"] = time.time()
        try:
            yield rec
        finally:
            rec["end"] = time.time()
            if rec["traced"]:
                self.probe.set_group(parent["id"] if parent and parent["traced"]
                                     else None)

    def collect(self, rec: dict, build: dict | None = None) -> dict:
        """Attach the Spark rollup of ``rec`` (jobs of its ``build`` child
        also count as ``queries.build_jobs``). Call after the timed call has
        returned, so reading the stores is not timed."""
        if not rec["traced"]:
            return rec
        groups = [rec["id"]] + ([build["id"]] if build is not None else [])
        rec["spark"] = self.probe.rollup(
            groups, rec["start"], rec["end"],
            build_group=build["id"] if build is not None else None,
        )
        return rec


def sum_rollups(rollups: list[dict]) -> dict[str, float]:
    """One cycle's counters: sums over its spans; the straggler ratio is the
    worst span's."""
    out = {k: sum(r[k] for r in rollups) for k in SUM_KEYS}
    out["job_tasks_total"] = sum(r["job_tasks_total"] for r in rollups)
    out["straggler.max_over_median"] = max(
        (r["straggler.max_over_median"] for r in rollups), default=1.0
    )
    return out
