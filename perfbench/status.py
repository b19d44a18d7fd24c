"""Per-layer counters read from Spark's own status stores over py4j.

- ``AppStatusStore`` (``SparkContext.statusStore``): job and stage records —
  submission/completion times, task time, CPU, GC, result size, input,
  shuffle and spill totals, and task-level shuffle-read quantiles.
- ``SQLAppStatusStore`` (``SharedState.statusStore``): the final plan graph
  of each SQL execution and its SQLMetric values, which Spark renders as
  strings (``parse_metric``).
- ``StreamingQuery.recentProgress``: micro-batch durations and state-store
  figures (``stream_layers``).

Nothing here runs inside the timed region of an untraced run.
"""
from __future__ import annotations

import re
from collections import defaultdict
from dataclasses import dataclass

_TIME_UNITS = {"ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0}
_SIZE_UNITS = {
    "B": 1.0,
    "KiB": 2.0**10,
    "MiB": 2.0**20,
    "GiB": 2.0**30,
    "TiB": 2.0**40,
    "PiB": 2.0**50,
}
_VALUE = re.compile(r"^\s*(-?[0-9][0-9,]*(?:\.[0-9]+)?)\s*([A-Za-z]*)")


def parse_metric(text: str, metric_type: str) -> float:
    """Turn one SQLMetric string into a number in base units: seconds for
    ``timing``/``nsTiming``, bytes for ``size``, the plain count for ``sum``.

    Spark prints a metric either as the bare total (``"206 ms"``,
    ``"1,234"``) or, when several tasks reported it, as a header line plus
    ``"<total> (<min>, <med>, <max> (stage s.a: task t))"``; the total is
    the first value of the last line. ``average`` metrics carry the mean
    there instead. Unknown text parses as 0.0."""
    if not text:
        return 0.0
    m = _VALUE.match(text.strip().splitlines()[-1])
    if not m:
        return 0.0
    number = float(m.group(1).replace(",", ""))
    unit = m.group(2)
    if metric_type in ("timing", "nsTiming"):
        return number * _TIME_UNITS.get(unit, 1e-3)
    if metric_type == "size":
        return number * _SIZE_UNITS.get(unit, 1.0)
    return number


@dataclass
class JobRecord:
    job_id: int
    group: str
    start: float  # epoch seconds
    end: float
    stage_ids: list[int]
    sql_id: int | None


@dataclass
class StageTotals:
    tasks: int = 0
    task_s: float = 0.0
    cpu_s: float = 0.0
    gc_s: float = 0.0
    result_bytes: float = 0.0
    input_rows: float = 0.0
    input_bytes: float = 0.0
    spill_bytes: float = 0.0
    skew: float = 0.0  # max over stages of max/median task shuffle-read bytes


# plan-node name -> {metric display name -> layer metric}
_NODE_METRICS: list[tuple[re.Pattern, dict[str, str]]] = [
    (re.compile(r"^Scan parquet"), {"scan time": "sources.scan_s"}),
    (re.compile(r"^WholeStageCodegen"), {"duration": "operators.codegen_s"}),
    (
        re.compile(r"^BroadcastExchange"),
        {
            "data size": "operators.broadcast_bytes",
            "time to collect": "operators.broadcast_s",
            "time to build": "operators.broadcast_s",
            "time to broadcast": "operators.broadcast_s",
        },
    ),
    (
        re.compile(r"^Exchange"),
        {
            "shuffle bytes written": "operators.shuffle_bytes",
            "shuffle write time": "operators.shuffle_write_s",
            "fetch wait time": "operators.fetch_wait_s",
        },
    ),
    (
        re.compile(r"Pandas|Python|Arrow"),
        {
            # measured by the Python worker from the end of its set-up to
            # its last output: inside the task
            "time to run Python workers": "operators.pandas_s",
            # the worker's start as the JVM sees it; about 0 for a reused
            # worker. "time to initialize Python
            # workers" is left out: a reused worker starts that clock when
            # it finishes its previous task, so it adds up idle time
            # between tasks, not work
            "time to start Python workers": "operators.pandas_boot_s",
            "data sent to Python workers": "operators.arrow_bytes",
            "data returned from Python workers": "operators.arrow_bytes",
        },
    ),
]


def _opt(jobj):
    """Scala Option -> value or None."""
    return jobj.get() if jobj.isDefined() else None


def _epoch(date_opt) -> float | None:
    d = _opt(date_opt)
    return None if d is None else d.getTime() / 1000.0


class StatusReader:
    """Reads job, stage and SQL-execution records for given job ids."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self._sc = sc
        self._jvm = sc._jvm
        self._cc = self._jvm.scala.jdk.javaapi.CollectionConverters
        self._store = sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._quantiles = sc._gateway.new_array(self._jvm.double, 2)
        self._quantiles[0] = 0.5
        self._quantiles[1] = 1.0

    def drain(self) -> None:
        """Wait until the listener bus has applied every posted event, so
        the stores hold the final records of the actions just finished."""
        self._sc._jsc.sc().listenerBus().waitUntilEmpty(30_000)

    def job_ids(self, group: str) -> list[int]:
        return sorted(self._sc.statusTracker().getJobIdsForGroup(group))

    def jobs(self, job_ids: list[int]) -> list[JobRecord]:
        out = []
        for jid in job_ids:
            pair = self._store.jobWithAssociatedSql(jid)
            j = pair._1()
            start = _epoch(j.submissionTime())
            end = _epoch(j.completionTime())
            if start is None or end is None:
                continue
            sql_id = _opt(pair._2())
            out.append(
                JobRecord(
                    job_id=jid,
                    group=_opt(j.jobGroup()) or "",
                    start=start,
                    end=end,
                    stage_ids=list(self._cc.asJava(j.stageIds())),
                    sql_id=None if sql_id is None else int(sql_id),
                )
            )
        return out

    def stages(self, jobs: list[JobRecord]) -> StageTotals:
        t = StageTotals()
        seen: set[int] = set()
        for job in jobs:
            for sid in job.stage_ids:
                if sid in seen:
                    continue
                seen.add(sid)
                try:
                    s = self._store.lastStageAttempt(sid)
                except Exception:  # py4j: stage evicted from the store
                    continue
                if str(s.status()) not in ("COMPLETE", "FAILED"):
                    continue  # skipped: its shuffle output was reused
                t.tasks += s.numCompleteTasks()
                t.task_s += s.executorRunTime() / 1e3
                t.cpu_s += s.executorCpuTime() / 1e9
                t.gc_s += s.jvmGcTime() / 1e3
                t.input_rows += s.inputRecords()
                t.input_bytes += s.inputBytes()
                t.spill_bytes += s.memoryBytesSpilled() + s.diskBytesSpilled()
                if job.group.endswith("/build"):
                    t.result_bytes += s.resultSize()
                if s.shuffleReadBytes() > 0 and s.numCompleteTasks() > 1:
                    summ = _opt(self._store.taskSummary(sid, s.attemptId(), self._quantiles))
                    if summ is not None:
                        q = summ.shuffleReadMetrics().readBytes()
                        med, mx = q.apply(0), q.apply(1)
                        if med > 0:
                            t.skew = max(t.skew, mx / med)
        return t

    def execution_jobs(self, eid: int) -> list[int]:
        """Every job of one SQL execution, whichever job group it ran in."""
        ex = _opt(self._sql.execution(eid))
        return [] if ex is None else sorted(int(j) for j in self._cc.asJava(ex.jobs()).keySet())

    def plan_metrics(self, sql_ids: set[int]) -> dict[str, float]:
        """Sum the plan-node SQLMetrics of the given executions into layer
        metrics, and count the shuffle Exchanges in their final plans.

        A node can appear twice in one plan graph with the same
        accumulators (a cached plan scanned twice is drawn under both
        scans), so each accumulator, and each Exchange, counts once per
        execution.
        WholeStageCodegen ``duration`` is the wall time of a pipeline,
        waits included, and pipelines of one task overlap (the input
        pipelines of a pandas co-group run in a writer thread beside the
        pipeline that consumes its output), so an execution's codegen time
        is capped at its task time."""
        out: dict[str, float] = defaultdict(float)
        for eid in sorted(sql_ids):
            try:
                graph = self._sql.planGraph(eid)
                values = self._cc.asJava(self._sql.executionMetrics(eid))
            except Exception:  # py4j: execution evicted from the store
                continue
            seen: set[int] = set()
            exchanges: set[int] = set()
            mine: dict[str, float] = defaultdict(float)
            for node in self._cc.asJava(graph.allNodes()):
                name = node.name()
                if name == "Exchange":
                    accs = [m.accumulatorId() for m in self._cc.asJava(node.metrics())]
                    exchanges.add(min(accs, default=-node.id() - 1))
                for pat, wanted in _NODE_METRICS:
                    if not pat.search(name):
                        continue
                    for m in self._cc.asJava(node.metrics()):
                        layer = wanted.get(m.name())
                        if layer is None or m.accumulatorId() in seen:
                            continue
                        seen.add(m.accumulatorId())
                        text = values.get(m.accumulatorId())
                        mine[layer] += parse_metric(text, m.metricType())
                    break
            if "operators.codegen_s" in mine:
                task_s = self.stages(self.jobs(self.execution_jobs(eid))).task_s
                mine["operators.codegen_s"] = min(mine["operators.codegen_s"], task_s)
            mine["operators.exchanges"] = float(len(exchanges))
            for k, v in mine.items():
                out[k] += v
        return out


def stream_layers(progress: list[dict]) -> dict[str, float]:
    """Micro-batch layer figures from ``StreamingQuery.recentProgress``:
    summed durations over non-empty batches, and the state store as the
    last batch left it."""
    busy = [p for p in progress if p.get("numInputRows", 0) > 0]
    d = [p.get("durationMs", {}) for p in busy]
    ops = [op for op in (busy[-1].get("stateOperators") or [])] if busy else []
    return {
        "streaming.batches": float(len(busy)),
        "streaming.add_batch_s": sum(x.get("addBatch", 0) for x in d) / 1e3,
        "streaming.planning_s": sum(x.get("queryPlanning", 0) for x in d) / 1e3,
        "streaming.commit_s": sum(
            x.get("walCommit", 0) + x.get("commitOffsets", 0) for x in d
        )
        / 1e3,
        "streaming.state_rows": float(sum(op.get("numRowsTotal", 0) for op in ops)),
        "streaming.state_bytes": float(sum(op.get("memoryUsedBytes", 0) for op in ops)),
        "streaming.state_commit_s": sum(
            op.get("commitTimeMs", 0)
            for p in busy
            for op in (p.get("stateOperators") or [])
        )
        / 1e3,
    }


def trigger_seconds(progress: list[dict]) -> list[float]:
    """``triggerExecution`` time of every non-empty micro-batch."""
    return [
        p["durationMs"]["triggerExecution"] / 1e3
        for p in progress
        if p.get("numInputRows", 0) > 0 and "triggerExecution" in p.get("durationMs", {})
    ]
