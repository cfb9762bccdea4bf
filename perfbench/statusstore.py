"""Read Spark's own status stores after the fact, without touching the plan.

Every number here comes from the application status store
(``SparkContext.statusStore``: jobs, stages, tasks, per-stage operator
graphs) and the SQL status store (``SharedState.statusStore``: SQL
executions, their final plan graphs and aggregated SQL metrics). Both are
fed by listeners that run whether or not the UI is enabled, and reading
them never re-runs a query. (Calling ``finalPhysicalPlan()`` on an
adaptive plan does re-run it, so the walker never touches plan objects.)

SQL metric values arrive pre-formatted (``"1,940"``, ``"6.6 s"``,
``"total (min, med, max (stageId: taskId))\\n1.5 MiB (...)"``);
:func:`parse_metric` turns them back into numbers in base units
(seconds, bytes, counts).
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field
from typing import Dict, List, Optional

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2.0 ** 10, "MiB": 2.0 ** 20, "GiB": 2.0 ** 30,
    "TiB": 2.0 ** 40, "PiB": 2.0 ** 50, "EiB": 2.0 ** 60,
}
_VALUE = re.compile(r"^\s*(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: Optional[str]) -> float:
    """Total of a formatted SQL metric in base units (s, bytes, count)."""
    if not text:
        return 0.0
    if text.startswith("total ("):
        text = text.split("\n", 1)[1] if "\n" in text else ""
    m = _VALUE.match(text)
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


@dataclass
class Stage:
    stage_id: int
    attempt: int
    status: str
    num_tasks: int
    submit_ms: Optional[int]
    end_ms: Optional[int]
    run_ms: int
    cpu_ns: int
    gc_ms: int
    shuffle_write_bytes: int
    shuffle_read_bytes: int
    input_bytes: int
    output_bytes: int
    output_records: int
    operators: List[str] = field(default_factory=list)

    @property
    def seconds(self) -> float:
        if self.submit_ms is None or self.end_ms is None:
            return 0.0
        return (self.end_ms - self.submit_ms) / 1000.0

    def runs(self, operator: str) -> bool:
        return any(op.startswith(operator) for op in self.operators)


@dataclass
class Job:
    job_id: int
    name: str
    status: str
    submit_ms: int
    end_ms: int
    stage_ids: List[int]
    execution_id: Optional[int] = None


@dataclass
class Execution:
    execution_id: int
    description: str
    plan: str
    submit_ms: int
    end_ms: Optional[int]
    job_ids: List[int]
    #: (operator name, metric name) -> summed value in base units
    metrics: Dict[tuple, float]

    def metric(self, operator: str, name: str) -> float:
        return sum(
            v for (op, n), v in self.metrics.items()
            if op.startswith(operator) and n == name
        )


def _ms(opt) -> Optional[int]:
    """scala.Option[java.util.Date] -> epoch ms (None when empty)."""
    return opt.get().getTime() if opt.isDefined() else None


class StatusStore:
    """Walks the status stores of one live SparkSession."""

    def __init__(self, spark):
        self._sc = spark.sparkContext._jsc.sc()  # noqa: SLF001
        self._jvm = spark._jvm  # noqa: SLF001
        self._gw = spark.sparkContext._gateway  # noqa: SLF001
        self._app = self._sc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()  # noqa: SLF001
        self._conv = self._jvm.scala.jdk.javaapi.CollectionConverters

    def _list(self, seq):
        return list(self._conv.asJava(seq))

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self._sc.listenerBus().waitUntilEmpty(30000)

    def sql_jobs(self, since_ms: int = 0) -> Dict[int, tuple]:
        """SQL execution id -> (submitted ms, job ids) for the executions
        submitted at or after since_ms; cheaper than executions()."""
        out = {}
        for e in self._list(self._sql.executionsList()):
            submit = int(e.submissionTime())
            if submit >= since_ms:
                jids = sorted(int(j) for j in self._conv.asJava(e.jobs()).keySet())
                out[int(e.executionId())] = (submit, jids)
        return out

    def jobs(self, since_ms: int = 0) -> List[Job]:
        """Jobs submitted at or after since_ms, oldest first (a job still
        running ends at its submission)."""
        by_exec = {jid: eid for eid, (_t, jids) in self.sql_jobs(since_ms).items()
                   for jid in jids}
        out = []
        for j in self._list(self._app.jobsList(None)):
            start, end = _ms(j.submissionTime()), _ms(j.completionTime())
            if start is None or start < since_ms:
                continue
            out.append(Job(
                job_id=int(j.jobId()), name=str(j.name()),
                status=str(j.status()), submit_ms=start,
                end_ms=start if end is None else end,
                stage_ids=[int(s) for s in self._list(j.stageIds())],
                execution_id=by_exec.get(int(j.jobId())),
            ))
        return sorted(out, key=lambda j: j.job_id)

    def stages(self, stage_ids) -> Dict[int, Stage]:
        """Latest attempt of each stage id, with the operators it ran."""
        wanted = set(stage_ids)
        # stageList has no Python-callable default arguments: all five
        # (statuses, details, withSummaries, quantiles, taskStatus)
        quantiles = self._gw.new_array(self._gw.jvm.double, 0)
        rows = self._list(self._app.stageList(
            None, False, False, quantiles, self._jvm.java.util.ArrayList()
        ))
        out: Dict[int, Stage] = {}
        for s in rows:
            sid = int(s.stageId())
            if sid not in wanted or (sid in out and out[sid].attempt > s.attemptId()):
                continue
            out[sid] = Stage(
                stage_id=sid, attempt=int(s.attemptId()),
                status=str(s.status()), num_tasks=int(s.numTasks()),
                submit_ms=_ms(s.submissionTime()),
                end_ms=_ms(s.completionTime()),
                run_ms=int(s.executorRunTime()),
                cpu_ns=int(s.executorCpuTime()),
                gc_ms=int(s.jvmGcTime()),
                shuffle_write_bytes=int(s.shuffleWriteBytes()),
                shuffle_read_bytes=int(s.shuffleReadBytes()),
                input_bytes=int(s.inputBytes()),
                output_bytes=int(s.outputBytes()),
                output_records=int(s.outputRecords()),
                operators=self._operators(sid),
            )
        return out

    def _operators(self, stage_id: int) -> List[str]:
        names: List[str] = []
        todo = [self._app.operationGraphForStage(stage_id).rootCluster()]
        while todo:
            cluster = todo.pop()
            for child in self._list(cluster.childClusters()):
                names.append(str(child.name()).strip())
                todo.append(child)
        return names

    def task_stats(self, stage: Stage) -> List[dict]:
        """Per-task duration (s) and records written for one stage."""
        out = []
        tasks = self._list(
            self._app.taskList(stage.stage_id, stage.attempt, stage.num_tasks)
        )
        for t in tasks:
            dur = t.duration()
            written = 0
            metrics = t.taskMetrics()
            if metrics.isDefined():
                written = int(metrics.get().outputMetrics().recordsWritten())
            out.append({
                "seconds": int(dur.get()) / 1000.0 if dur.isDefined() else 0.0,
                "records_written": written,
            })
        return out

    def executions(self, since_ms: int = 0,
                   until_ms: Optional[int] = None) -> List[Execution]:
        """SQL executions submitted in [since_ms, until_ms], oldest first,
        with their plan-graph metrics."""
        out = []
        for e in self._list(self._sql.executionsList()):
            submit = int(e.submissionTime())
            if submit < since_ms or (until_ms is not None and submit > until_ms):
                continue
            eid = int(e.executionId())
            values = dict(self._conv.asJava(self._sql.executionMetrics(eid)))
            metrics: Dict[tuple, float] = {}
            for node in self._list(self._sql.planGraph(eid).allNodes()):
                for m in self._list(node.metrics()):
                    key = (str(node.name()).strip(), str(m.name()))
                    metrics[key] = metrics.get(key, 0.0) + parse_metric(
                        values.get(m.accumulatorId())
                    )
            end = e.completionTime()
            out.append(Execution(
                execution_id=eid, description=str(e.description()),
                plan=str(e.physicalPlanDescription()),
                submit_ms=int(e.submissionTime()),
                end_ms=_ms(end),
                job_ids=sorted(int(j) for j in self._conv.asJava(e.jobs()).keySet()),
                metrics=metrics,
            ))
        return sorted(out, key=lambda e: e.execution_id)


def union_seconds(intervals) -> float:
    """Length of the union of (start_ms, end_ms) intervals, in seconds."""
    total, cur_lo, cur_hi = 0, None, None
    for lo, hi in sorted(intervals):
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total / 1000.0
