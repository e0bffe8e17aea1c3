"""Per-execution trace harvested from Spark's own status stores.

One query execution is two timed spans, construction (the registry call
that builds the plan, including any eager jobs it runs) and action (the
final ``count()``/``collect()``). After the action the tracer drains the
listener bus and reads, for every job, stage and SQL execution started
in the two spans:

* jobs and stages from the ``AppStatusStore`` (job ids are allocated
  synchronously by the DAG scheduler, so the id range of a span is exact);
* SQL executions and their AQE-final operator metrics from the SQL
  status store (scan, write, shuffle and Python UDF metrics);
* streaming batches from a ``StreamingQueryListener`` registered for
  the traced passes only (``attach``/``detach``).

An entry that the stores have already evicted makes the harvest
``complete=False``; the caller counts that execution as failed rather
than reporting an undercount.
"""

from __future__ import annotations

import json
import re
import threading

from py4j.protocol import Py4JJavaError
from pyspark.sql.streaming import StreamingQueryListener

# Static confs raised for traced sessions so nothing is evicted in a run.
RETENTION_CONF = {
    "spark.ui.retainedJobs": "100000",
    "spark.ui.retainedStages": "100000",
    "spark.ui.retainedTasks": "1000000",
    "spark.sql.ui.retainedExecutions": "100000",
    "spark.sql.streaming.ui.retainedQueries": "10000",
}

LAYER_METRICS = {
    "plans.construct_s": "s",
    "plans.construct_jobs": "count",
    "plans.construct_sql_execs": "count",
    "action.s": "s",
    "action.jobs": "count",
    "action.stages": "count",
    "action.tasks": "count",
    "action.driver_gap_s": "s",
    "exec.run_s": "s",
    "exec.cpu_s": "s",
    "exec.gc_s": "s",
    "exec.failed_tasks": "count",
    "shuffle.read_mb": "MB",
    "shuffle.write_mb": "MB",
    "shuffle.fetch_wait_s": "s",
    "shuffle.spill_mb": "MB",
    "udf.python_boot_s": "s",
    "udf.python_init_s": "s",
    "udf.python_exec_s": "s",
    "scan.files": "count",
    "scan.read_mb": "MB",
    "scan.time_s": "s",
    "write.files": "count",
    "write.mb": "MB",
    "write.time_s": "s",
    "stream.batches": "count",
    "stream.state_commit_s": "s",
    "stream.state_rows": "count",
    "runtime.cached_mb": "MB",
}

# SQL metric name, as Spark labels it -> the layer metric it adds to.
_SQL_METRICS = {
    "time to start Python workers": "udf.python_boot_s",
    "time to initialize Python workers": "udf.python_init_s",
    "time to run Python workers": "udf.python_exec_s",
    "number of files read": "scan.files",
    "size of files read": "scan.read_mb",
    "scan time": "scan.time_s",
    "number of written files": "write.files",
    "written output": "write.mb",
}

_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1e-6, "KiB": 1024 / 1e6, "MiB": 1024**2 / 1e6,
    "GiB": 1024**3 / 1e6, "TiB": 1024**4 / 1e6,
}
_VALUE = re.compile(r"^(-?[\d,]+(?:\.\d+)?)\s*([A-Za-z]*)")
MB = 1e6


def parse_metric(text: str) -> float:
    """Total of one formatted SQL metric: ``'2.9 s'``, ``'60.7 KiB'``,
    ``'1,204'`` or the ``'total (min, med, max ...)\\n<total> (...)'``
    form Spark uses when several tasks reported."""
    if "\n" in text:
        text = text.split("\n", 1)[1]
    m = _VALUE.match(text.strip())
    if not m:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2), 1.0)


class _StreamProgress(StreamingQueryListener):
    def __init__(self):
        self.lock = threading.Lock()
        self.events: list[dict] = []

    def onQueryStarted(self, event):
        pass

    def onQueryProgress(self, event):
        ops = event.progress.stateOperators or []
        with self.lock:
            self.events.append({
                "commit_ms": sum(op.commitTimeMs for op in ops),
                "rows": sum(op.numRowsUpdated for op in ops),
            })

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        pass

    def take(self) -> list[dict]:
        with self.lock:
            out, self.events = self.events, []
        return out


def _scala_map(smap) -> dict:
    out, it = {}, smap.iterator()
    while it.hasNext():
        kv = it.next()
        out[kv._1()] = kv._2()
    return out


def _interval_union(spans: list[tuple[float, float]]) -> float:
    total, end = 0.0, float("-inf")
    for a, b in sorted(spans):
        if b <= end:
            continue
        total += b - max(a, end)
        end = b
    return total


class Tracer:
    """Harvests one execution at a time from a live session."""

    def __init__(self, spark):
        sc = spark.sparkContext
        jsc = sc._jsc.sc()
        self._dag = jsc.dagScheduler()
        self._bus = jsc.listenerBus()
        self._store = jsc.statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._jsc = jsc
        jvm = sc._jvm
        self._json = jvm.com.fasterxml.jackson.databind.ObjectMapper()
        scala_module = getattr(
            jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$"
        ).__getattr__("MODULE$")
        self._json.registerModule(scala_module)
        self._streams = spark.streams
        self._stream = _StreamProgress()

    # -- streaming listener, registered only while a traced pass runs ----
    def attach(self) -> None:
        self._streams.addListener(self._stream)

    def detach(self) -> None:
        self._streams.removeListener(self._stream)

    # -- marks taken around the timed spans (cheap, synchronous) ----------
    def begin(self) -> dict:
        """Settles the stores before a traced execution: what earlier
        (untraced) work left on the listener bus is applied and its
        streaming progress discarded, so the first SQL execution id
        ``e0`` and the job id ``j0`` mark where this execution starts."""
        self.drain()
        self._stream.take()
        return {"j0": self.next_job(), "e0": self.next_execution()}

    def next_job(self) -> int:
        return self._dag.numTotalJobs()

    def next_execution(self) -> int:
        return self._sql.executionsCount()

    def drain(self) -> None:
        self._bus.waitUntilEmpty()

    def cached_mb(self) -> float:
        return sum(
            info.memSize() + info.diskSize()
            for info in self._jsc.getRDDStorageInfo()
        ) / MB

    # -- harvest after the action ----------------------------------------
    def harvest(self, marks: dict) -> dict:
        """``marks``: job ids ``j0 j1 j2`` (before construction, before
        action, after action), first SQL execution id ``e0`` and the
        action's start as epoch ms ``t_action_ms``."""
        self.drain()
        m = dict.fromkeys(LAYER_METRICS, 0.0)
        complete = True
        jobs, stage_ids, action_spans = [], set(), []
        for jid in range(marks["j0"], marks["j2"]):
            try:
                job = json.loads(
                    self._json.writeValueAsString(self._store.job(jid))
                )
            except Py4JJavaError:  # NoSuchElementException: evicted
                complete = False
                continue
            in_action = jid >= marks["j1"]
            jobs.append({
                "id": jid, "group": job.get("jobGroup"), "span":
                "action" if in_action else "construct",
                "stages": job["stageIds"], "tasks": job["numCompletedTasks"],
                "status": job["status"],
            })
            if in_action:
                m["action.jobs"] += 1
                m["action.stages"] += job["numCompletedStages"]
                m["action.tasks"] += job["numCompletedTasks"]
                if job.get("completionTime"):
                    action_spans.append(
                        (job["submissionTime"], job["completionTime"])
                    )
            else:
                m["plans.construct_jobs"] += 1
            stage_ids.update(job["stageIds"])
        for sid in sorted(stage_ids):
            try:
                st = json.loads(self._json.writeValueAsString(
                    self._store.lastStageAttempt(sid)
                ))
            except Py4JJavaError:
                # a skipped stage is never submitted and has no entry; an
                # evicted one cannot occur while its job is still stored
                # (both limits are raised alike)
                continue
            m["exec.run_s"] += st["executorRunTime"] / 1e3
            m["exec.cpu_s"] += st["executorCpuTime"] / 1e9
            m["exec.gc_s"] += st["jvmGcTime"] / 1e3
            m["exec.failed_tasks"] += st["numFailedTasks"]
            m["shuffle.read_mb"] += st["shuffleReadBytes"] / MB
            m["shuffle.write_mb"] += st["shuffleWriteBytes"] / MB
            m["shuffle.fetch_wait_s"] += st.get("shuffleFetchWaitTime", 0) / 1e3
            m["shuffle.spill_mb"] += (
                st["memoryBytesSpilled"] + st["diskBytesSpilled"]
            ) / MB
        sql = []
        last = self.next_execution()
        for eid in range(marks["e0"], last):
            opt = self._sql.execution(eid)
            if opt.isEmpty():
                complete = False
                continue
            ex = opt.get()
            submitted = ex.submissionTime()
            in_action = submitted >= marks["t_action_ms"]
            if not in_action:
                m["plans.construct_sql_execs"] += 1
            done = ex.completionTime()
            dur = 0.0
            if done.isDefined():
                dur = (done.get().getTime() - submitted) / 1e3
            writes = self._sql_metrics(eid, m)
            if writes:
                m["write.time_s"] += dur
            sql.append({
                "id": eid, "span": "action" if in_action else "construct",
                "description": ex.description()[:120], "s": dur,
                "jobs": sorted(_scala_map(ex.jobs())),
            })
        if last < marks["e0"]:
            complete = False
        for ev in self._stream.take():
            m["stream.batches"] += 1
            m["stream.state_commit_s"] += ev["commit_ms"] / 1e3
            m["stream.state_rows"] += ev["rows"]
        action_s = marks["action_s"]
        covered = _interval_union(action_spans) / 1e3
        m["plans.construct_s"] = marks["construct_s"]
        m["action.s"] = action_s
        m["action.driver_gap_s"] = max(0.0, action_s - covered)
        m["runtime.cached_mb"] = marks["cached_mb"]
        return {"metrics": m, "complete": complete, "jobs": jobs, "sql": sql}

    def _sql_metrics(self, eid: int, m: dict) -> bool:
        """Adds one execution's operator metrics into ``m``; True when
        the execution wrote files."""
        names = {}
        nodes = self._sql.planGraph(eid).allNodes().iterator()
        while nodes.hasNext():
            metrics = nodes.next().metrics().iterator()
            while metrics.hasNext():
                sm = metrics.next()
                if sm.name() in _SQL_METRICS:
                    names[sm.accumulatorId()] = _SQL_METRICS[sm.name()]
        if not names:
            return False
        wrote = False
        values = _scala_map(self._sql.executionMetrics(eid))
        for acc, key in names.items():
            if acc in values:
                m[key] += parse_metric(values[acc])
                wrote = wrote or key.startswith("write.")
        return wrote
