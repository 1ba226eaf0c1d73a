"""Span recorder and Spark status-store harvester for the traced run.

A span is (name, start, end, parent). Entering a span tags the Spark jobs
it launches with a job group named after the span id; leaving it harvests,
from Spark's in-process status stores (they fill with
``spark.ui.enabled=false``), every job of that group:

- stage metrics: executor run/CPU/GC time, input, output, shuffle and
  spill bytes, fetch wait, task counts;
- SQL operator metrics of the executions those jobs belong to, for the
  operators the per-layer table reads (the depletion kernel's
  ``FlatMapGroupsInPandas``, hash aggregates, sorts and file writes).

Spans and harvested metrics stay in memory and are written as JSON when
the run ends. Nothing here runs in an untraced run.
"""

from __future__ import annotations

import json
import re
import time
from contextlib import contextmanager

from py4j.protocol import Py4JJavaError

#: operators whose SQL metrics layers.py reads (matched by name prefix)
SQL_NODES = (
    "FlatMapGroupsInPandas", "HashAggregate", "Sort",
    "Execute InsertIntoHadoopFsRelation",
)

_UNITS = {
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
    "ns": 1e-9, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
}
_VALUE = re.compile(r"(-?\d[\d,]*(?:\.\d+)?)\s*([A-Za-z]+)?")


def parse_metric(text: str | None) -> tuple[float, float, float]:
    """A formatted SQL metric -> (total, task median, task max), in bytes,
    seconds or plain counts. Distribution metrics read
    ``total (min, med, max (stageId: taskId))\\n326 ms (9 ms, 47 ms, ...)``;
    plain ones are a single value, which then stands for all three."""
    if not text:
        return 0.0, 0.0, 0.0
    line = text.split("\n")[-1]
    vals = [
        float(num.replace(",", "")) * _UNITS.get(unit or "", 1.0)
        for num, unit in _VALUE.findall(line.split("(stage")[0])
    ]
    if not vals:
        return 0.0, 0.0, 0.0
    if len(vals) >= 4:  # total (min, med, max)
        return vals[0], vals[2], vals[3]
    if len(vals) == 3:  # averaged metric: (min, med, max) without a total
        return vals[1], vals[1], vals[2]
    return vals[0], vals[0], vals[0]


def _seq(x) -> list:
    return [x.apply(i) for i in range(x.size())]


class Tracer:
    """Records spans and harvests the Spark work done inside each one."""

    def __init__(self, spark):
        self.spark = spark
        self.sc = spark.sparkContext
        self.store = self.sc._jsc.sc().statusStore()
        self.sql_store = spark._jsparkSession.sharedState().statusStore()
        self.spans: list[dict] = []
        self.pass_no = 0  # set by the runner before each traced pass
        self._stack: list[int] = []
        self._bus = self.sc._jsc.sc().listenerBus()
        self._last_job = -1
        self._job_span: dict[int, int] = {}  # every harvested job -> span id
        self._pending: dict[int, int] = {}  # stage id -> span id, not final yet
        self._seen_stages: set[int] = set()
        self._seen_exec: set[int] = set()
        self._exec_floor = -1  # every execution id <= this is handled

    @contextmanager
    def span(self, name: str, storage: bool = False):
        """Time ``name``, tag its Spark jobs, harvest them on exit; with
        ``storage`` also record the cache state the span leaves behind."""
        sid = len(self.spans)
        rec = {
            "id": sid, "name": name, "pass": self.pass_no,
            "parent": self._stack[-1] if self._stack else None,
            "start": time.perf_counter(), "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        self.sc.setJobGroup(f"span-{sid}", name)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            if storage:
                rec["persisted"], rec["storage_mb"] = self.storage()
            self._stack.pop()
            parent = self._stack[-1] if self._stack else None
            if parent is None:
                self.sc.setLocalProperty("spark.jobGroup.id", None)
                self.sc.setLocalProperty("spark.job.description", None)
            else:
                self.sc.setJobGroup(f"span-{parent}", self.spans[parent]["name"])
            self._harvest()

    # -- harvesting -------------------------------------------------------

    def _harvest(self) -> None:
        """Attach the stage and SQL metrics of jobs finished since the last
        harvest to the span whose job group launched them.

        The status stores fill from Spark's asynchronous listener bus, so
        it is drained first; a stage or execution that is still not final
        stays pending, with its span, until a later harvest."""
        self._bus.waitUntilEmpty(60_000)
        newest = self._last_job
        for job in _seq(self.store.jobsList(None)):  # newest first
            jid = job.jobId()
            if jid <= self._last_job:
                break
            newest = max(newest, jid)
            group = job.jobGroup()
            if group.isDefined() and group.get().startswith("span-"):
                sid = int(group.get()[5:])
                self._job_span[jid] = sid
                rec = self.spans[sid]
                rec["jobs"] = rec.get("jobs", 0) + 1
                for stage_id in _seq(job.stageIds()):
                    self._pending.setdefault(stage_id, sid)
        self._last_job = newest
        for stage_id, sid in list(self._pending.items()):
            if self._add_stage(self.spans[sid].setdefault("stages", {}), stage_id):
                del self._pending[stage_id]
        self._harvest_sql()

    def _add_stage(self, agg: dict, stage_id: int) -> bool:
        """Add one stage's metrics, once: a later job that reuses its
        shuffle output lists it again as a skipped stage. False while the
        stage is not final yet."""
        if stage_id in self._seen_stages:
            return True
        try:
            s = self.store.lastStageAttempt(stage_id)
        except Py4JJavaError:  # evicted from the store or never submitted
            return True
        status = s.status().toString()
        if status in ("ACTIVE", "PENDING"):
            return False
        if status != "COMPLETE":  # skipped or failed: no work to count
            return True
        self._seen_stages.add(stage_id)
        row = {
            "tasks": s.numCompleteTasks(),
            "run_s": s.executorRunTime() / 1e3,
            "cpu_s": s.executorCpuTime() / 1e9,
            "gc_s": s.jvmGcTime() / 1e3,
            "input_b": s.inputBytes(),
            "input_rows": s.inputRecords(),
            "output_b": s.outputBytes(),
            "output_rows": s.outputRecords(),
            "shuffle_read_b": s.shuffleReadBytes(),
            "shuffle_write_b": s.shuffleWriteBytes(),
            "fetch_wait_s": s.shuffleFetchWaitTime() / 1e3,
            "spill_b": s.memoryBytesSpilled() + s.diskBytesSpilled(),
        }
        for k, v in row.items():
            agg[k] = agg.get(k, 0) + v
        if row["input_b"] > 0:
            agg["scan_run_s"] = agg.get("scan_run_s", 0) + row["run_s"]
        if row["output_b"] > 0:
            agg["write_run_s"] = agg.get("write_run_s", 0) + row["run_s"]
        return True

    def _harvest_sql(self) -> None:
        execs = self.sql_store.executionsList()  # oldest first
        if execs.size() == 0:
            return
        floor = execs.apply(execs.size() - 1).executionId()
        for i in range(execs.size() - 1, -1, -1):
            ex = execs.apply(i)
            eid = ex.executionId()
            if eid <= self._exec_floor:
                break
            if ex.completionTime().isEmpty():
                floor = eid - 1  # still running: look again next harvest
                continue
            if eid in self._seen_exec:
                continue
            self._seen_exec.add(eid)
            jobs = [int(k) for k in _seq(ex.jobs().keys().toSeq())]
            sids = {self._job_span[j] for j in jobs if j in self._job_span}
            if not sids:
                continue
            rec = self.spans[min(sids)]
            ops = rec.setdefault("sql", {})
            values = self.sql_store.executionMetrics(eid)
            for node in _seq(self.sql_store.planGraph(eid).allNodes()):
                name = node.name()
                if not name.startswith(SQL_NODES):
                    continue
                entry = ops.setdefault(name.strip(), {"nodes": 0})
                entry["nodes"] += 1
                for m in _seq(node.metrics()):
                    got = values.get(m.accumulatorId())
                    total, med, mx = parse_metric(
                        got.get() if got.isDefined() else None
                    )
                    key = m.name()
                    entry[key] = entry.get(key, 0.0) + total
                    if key == "time to run Python workers" and total > 0:
                        entry["runs"] = entry.get("runs", 0) + 1
                        entry["task_med_s"] = entry.get("task_med_s", 0.0) + med
                        entry["task_max_s"] = entry.get("task_max_s", 0.0) + mx
        self._exec_floor = floor

    def missed(self) -> list[str]:
        """What a harvest left out: every completed stage and SQL execution
        of a span's jobs that carries no metrics yet. Empty when the
        harvest is whole."""
        self._bus.waitUntilEmpty(60_000)
        out = [f"stage {s} pending" for s in self._pending]
        for jid in self._job_span:
            for stage_id in _seq(self.store.job(jid).stageIds()):
                try:
                    st = self.store.lastStageAttempt(stage_id)
                except Py4JJavaError:
                    continue
                if (st.status().toString() == "COMPLETE"
                        and stage_id not in self._seen_stages):
                    out.append(f"stage {stage_id} of job {jid}")
        execs = self.sql_store.executionsList()
        for i in range(execs.size()):
            ex = execs.apply(i)
            jobs = [int(k) for k in _seq(ex.jobs().keys().toSeq())]
            if any(j in self._job_span for j in jobs) and (
                    ex.executionId() not in self._seen_exec):
                out.append(f"execution {ex.executionId()}")
        return out

    # -- storage ----------------------------------------------------------

    def storage(self) -> tuple[int, float]:
        """(persisted RDD count, cached MB in memory and on disk)."""
        jsc = self.sc._jsc
        infos = jsc.sc().getRDDStorageInfo()
        mb = sum((i.memSize() + i.diskSize()) for i in infos) / 2**20
        return jsc.getPersistentRDDs().size(), mb

    def dump(self, path: str) -> None:
        with open(path, "w") as f:
            json.dump(self.spans, f, indent=1, default=str)
