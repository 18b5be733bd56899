"""In-memory spans plus Spark status-store readouts for one operation.

A span is (name, start, end, parent). Spans nest; a span's self time is
its duration minus its children's. A layer span wraps a call into the
library or into pyspark (``LAYER_SPANS``); the others (the operation
itself, ``chain.build``) are the benchmark's own, and their self time is
the unattributed time. Nothing is written until the run ends. ``SparkStatus`` reads what Spark recorded for the jobs of one job
group: job/stage/task counts, the union of job spans, stage task
metrics, and Python-worker time from the SQL status store.
"""

from __future__ import annotations

import re
import time
from collections import defaultdict
from contextlib import contextmanager


LAYER_SPANS = ("session", "tables", "api.", "plans.", "operators.", "spark.")


class Tracer:
    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[list] = []  # [name, start, end, parent_index]
        self._stack: list[int] = []

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        idx = len(self.spans)
        parent = self._stack[-1] if self._stack else -1
        self.spans.append([name, time.perf_counter(), None, parent])
        self._stack.append(idx)
        try:
            yield
        finally:
            self._stack.pop()
            self.spans[idx][2] = time.perf_counter()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        return traced

    def tree_times(self, root: int) -> tuple[dict[str, float], dict[str, float]]:
        """(total seconds, self seconds) per span name under span ``root``
        (root included)."""
        total: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        members = {root}
        for i in range(root + 1, len(self.spans)):
            if self.spans[i][3] in members:
                members.add(i)
        for i in sorted(members):
            name, s, e, parent = self.spans[i]
            total[name] += e - s
            if i != root:
                child[parent] += e - s
        own: dict[str, float] = defaultdict(float)
        for i in members:
            name, s, e, _ = self.spans[i]
            own[name] += (e - s) - child[i]
        return dict(total), dict(own)

    def unattributed(self, root: int) -> float:
        """Self seconds under span ``root`` (root included) that no layer
        span covers."""
        _, own = self.tree_times(root)
        return sum(v for name, v in own.items() if not name.startswith(LAYER_SPANS))

    def last_root(self, name: str) -> int:
        for i in range(len(self.spans) - 1, -1, -1):
            if self.spans[i][0] == name and self.spans[i][3] == -1:
                return i
        raise KeyError(name)


def _date_ms(opt) -> float | None:
    return float(opt.get().getTime()) if opt.isDefined() else None


_DURATION = re.compile(r"([\d.,]+)\s*(ms|s|m|h|min)\b")
_UNIT_MS = {"ms": 1.0, "s": 1e3, "m": 60e3, "min": 60e3, "h": 3600e3}
PYTHON_TIME_METRIC = "time to run Python workers"


class SparkStatus:
    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        self._conv = jvm.scala.jdk.javaapi.CollectionConverters
        self._store = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_tasks = jvm.java.util.ArrayList()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def sql_execution_count(self) -> int:
        return int(self._sql.executionsCount())

    def group(self, group: str, first_execution: int) -> dict[str, float]:
        """Everything Spark recorded for the jobs of ``group``."""
        out = defaultdict(float)
        job_ids = list(self.sc.statusTracker().getJobIdsForGroup(group))
        spans = []
        for jid in job_ids:
            job = self._store.job(jid)
            start, end = _date_ms(job.submissionTime()), _date_ms(job.completionTime())
            if start is not None and end is not None:
                spans.append((start, end))
            out["exec.jobs"] += 1
            for sid in self._list(job.stageIds()):
                for st in self._list(
                    self._store.stageData(sid, False, self._no_tasks, False, self._no_quantiles)
                ):
                    if str(st.status()) != "COMPLETE":
                        continue
                    out["exec.stages"] += 1
                    out["exec.tasks"] += st.numCompleteTasks()
                    out["exec.executor_run_ms"] += st.executorRunTime()
                    out["exec.executor_cpu_ms"] += st.executorCpuTime() / 1e6
                    out["exec.gc_ms"] += st.jvmGcTime()
                    out["exec.shuffle_read_bytes"] += st.shuffleReadBytes()
                    out["exec.shuffle_write_bytes"] += st.shuffleWriteBytes()
                    out["exec.spill_bytes"] += st.memoryBytesSpilled() + st.diskBytesSpilled()
                    out["exec.output_bytes"] += st.outputBytes()
        out["exec.job_wall_ms"] = _union_ms(spans)
        out["exec.python_eval_ms"] = self._python_ms(set(job_ids), first_execution)
        return dict(out)

    def _python_ms(self, job_ids: set, first_execution: int) -> float:
        total = 0.0
        count = self.sql_execution_count()
        if count <= first_execution or not job_ids:
            return total
        for ex in self._list(self._sql.executionsList(first_execution, count - first_execution)):
            jobs = {int(j) for j in dict(self._conv.asJava(ex.jobs()))}
            if not jobs & job_ids:
                continue
            accs = [
                m.accumulatorId()
                for m in self._list(ex.metrics())
                if m.name() == PYTHON_TIME_METRIC
            ]
            if not accs:
                continue
            values = {
                int(k): str(v)
                for k, v in dict(self._conv.asJava(self._sql.executionMetrics(ex.executionId()))).items()
            }
            for acc in accs:
                text = values.get(int(acc))
                if text:
                    total += _first_duration_ms(text)
        return total

    def cached_bytes(self) -> float:
        return float(
            sum(r.memSize() + r.diskSize() for r in self.sc._jsc.sc().getRDDStorageInfo())
        )


def catalyst_phases(jdf) -> dict[str, float]:
    """Catalyst phase durations (ms) recorded by the frame's
    QueryPlanningTracker."""
    out = {}
    it = jdf.queryExecution().tracker().phases().iterator()
    while it.hasNext():
        kv = it.next()
        out[f"catalyst.{kv._1()}_ms"] = float(kv._2().durationMs())
    return out


def _first_duration_ms(text: str) -> float:
    # timing SQLMetrics render as "total (min, med, max ...)\n<total> (...)"
    body = text.split("\n", 1)[-1]
    m = _DURATION.search(body)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNIT_MS[m.group(2)]


def _union_ms(spans: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(spans):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total
