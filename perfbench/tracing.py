"""Traced-run analysis: Spark event log -> spans and per-layer metrics.

The benchmark times each query phase itself (``Phase`` windows, wall
clock) and turns on Spark's local event log. After the session stops,
this module reads the log and attributes every Spark job, stage, task,
SQL execution and streaming micro-batch to the phase whose window
contains its start time. Attribution is by time, never by job group:
jobs started on the operators' thread pools and streaming micro-batch
jobs do not carry the caller's job group, but the benchmark runs one
query at a time, so the clock names the query exactly.

Everything here is pure Python over parsed JSON, so it is unit-tested
without a Spark session.
"""

from __future__ import annotations

import bisect
import datetime as dt
import json
import os
import re
from dataclasses import dataclass, field

MB = 1e6
_COMPRESSED = (".zstd", ".lz4", ".snappy", ".lzf", ".gz")
_SQL = "org.apache.spark.sql.execution.ui."
_STREAM = "org.apache.spark.sql.streaming.StreamingQueryListener$"


@dataclass(frozen=True)
class Phase:
    """One timed window of the benchmark: a query's build or its exec
    (the noop sink) in a given pass. Times are epoch seconds."""
    query: str
    pass_no: int
    kind: str  # "build" | "exec"
    start: float
    end: float

    @property
    def group(self) -> str:
        return f"{self.query}:{self.pass_no}:{self.kind}"


def read_event_log(root: str) -> list[dict]:
    """Every event of every Spark event log under ``root``, in order.

    Spark 4 writes rolling logs: an ``eventlog_v2_<app>`` directory of
    ``events_<n>_<app>`` files, read in ``n`` order. Compressed logs
    are refused with a message naming the setting, since no zstd
    decoder is available.
    """
    files: list[str] = []
    for name in sorted(os.listdir(root)):
        path = os.path.join(root, name)
        if os.path.isdir(path) and name.startswith("eventlog_v2_"):
            parts = [f for f in os.listdir(path) if f.startswith("events_")]
            parts.sort(key=lambda f: int(f.split("_")[1]))
            files += [os.path.join(path, f) for f in parts]
    events: list[dict] = []
    for path in files:
        if path.endswith(_COMPRESSED):
            raise ValueError(f"{path} is compressed; run with "
                             "spark.eventLog.compress=false")
        with open(path, encoding="utf-8") as f:
            events += [json.loads(line) for line in f if line.strip()]
    return events


class Windows:
    """Non-overlapping [start, end] windows, looked up by time."""

    def __init__(self, items: list[tuple[float, float, object]]):
        self._items = sorted(items, key=lambda w: w[0])
        self._starts = [w[0] for w in self._items]

    def find(self, t: float):
        """The payload of the window containing ``t``, else ``None``."""
        i = bisect.bisect_right(self._starts, t) - 1
        if i >= 0 and t <= self._items[i][1]:
            return self._items[i][2]
        return None


def _iso(ts: str) -> float:
    return dt.datetime.fromisoformat(ts.replace("Z", "+00:00")).timestamp()


def _union_s(intervals: list[tuple[float, float]]) -> float:
    """Total length covered by possibly overlapping intervals."""
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


@dataclass
class Job:
    job_id: int
    submit: float
    end: float | None = None
    group: str | None = None
    stage_ids: list[int] = field(default_factory=list)
    phase: Phase | None = None
    batch: int | None = None  # index into Trace.batches


@dataclass
class StageAgg:
    stage_id: int
    submit: float | None = None
    end: float | None = None
    tasks: int = 0
    failed_tasks: int = 0
    indices: set = field(default_factory=set)
    run_ms: float = 0.0
    cpu_ns: float = 0.0
    gc_ms: float = 0.0
    shuffle_read: float = 0.0
    shuffle_write: float = 0.0
    spill: float = 0.0
    input_bytes: float = 0.0
    acc_updates: dict = field(default_factory=dict)  # acc id -> sum


@dataclass
class Batch:
    """One streaming trigger, from a QueryProgressEvent."""
    run_id: str
    name: str | None
    start: float
    trigger_ms: float
    add_batch_ms: float
    phase: Phase | None = None


class Trace:
    """Jobs, stages, SQL executions and micro-batches of one event log,
    each attributed to a benchmark ``Phase`` by its start time."""

    def __init__(self, events: list[dict], phases: list[Phase]):
        self.phases = phases
        pw = Windows([(p.start, p.end, p) for p in phases])
        self.jobs: dict[int, Job] = {}
        self.stages: dict[int, StageAgg] = {}
        self.batches: list[Batch] = []
        self.executions: list[tuple[Phase | None, dict]] = []
        self.acc_name: dict[int, str] = {}  # SQL metric accumulator names
        self.acc_time: dict[int, float] = {}  # id -> first seen
        stage_job: dict[int, int] = {}
        now = None  # latest event time seen, for events that carry none
        for ev in events:
            kind = ev.get("Event", "")
            if kind == "SparkListenerJobStart":
                now = ev["Submission Time"] / 1000.0
                job = Job(ev["Job ID"], ev["Submission Time"] / 1000.0,
                          group=(ev.get("Properties") or {}).get(
                              "spark.jobGroup.id"),
                          stage_ids=list(ev.get("Stage IDs", [])))
                self.jobs[job.job_id] = job
                for sid in job.stage_ids:
                    stage_job.setdefault(sid, job.job_id)
            elif kind == "SparkListenerJobEnd":
                job = self.jobs.get(ev["Job ID"])
                if job is not None:
                    job.end = ev["Completion Time"] / 1000.0
            elif kind in ("SparkListenerStageSubmitted",
                          "SparkListenerStageCompleted"):
                info = ev["Stage Info"]
                st = self._stage(info["Stage ID"])
                if info.get("Submission Time") is not None:
                    st.submit = now = info["Submission Time"] / 1000.0
                if info.get("Completion Time") is not None:
                    st.end = info["Completion Time"] / 1000.0
                for acc in info.get("Accumulables", []):
                    self._seen_acc(acc["ID"], st.submit)
            elif kind == "SparkListenerTaskEnd":
                self._task_end(ev)
            elif kind == _SQL + "SparkListenerSQLExecutionStart":
                t = now = ev["time"] / 1000.0
                plan = ev.get("sparkPlanInfo") or {}
                self.executions.append((pw.find(t), plan))
                self._plan_metrics(plan, t)
            elif kind == _SQL + "SparkListenerSQLAdaptiveExecutionUpdate":
                self._plan_metrics(ev.get("sparkPlanInfo") or {}, now)
            elif kind == _STREAM + "QueryProgressEvent":
                p = ev["progress"]
                d = p.get("durationMs") or {}
                self.batches.append(Batch(
                    p["runId"], p.get("name"), _iso(p["timestamp"]),
                    float(d.get("triggerExecution", 0)),
                    float(d.get("addBatch", 0))))
        for b in self.batches:
            b.phase = pw.find(b.start)
        bw = Windows([(b.start, b.start + b.trigger_ms / 1000.0, i)
                      for i, b in enumerate(self.batches)])
        for job in self.jobs.values():
            job.phase = pw.find(job.submit)
            job.batch = bw.find(job.submit)
        self.stage_job = stage_job

    def _stage(self, sid: int) -> StageAgg:
        st = self.stages.get(sid)
        if st is None:
            st = self.stages[sid] = StageAgg(sid)
        return st

    def _seen_acc(self, acc_id: int, t: float | None) -> None:
        if t is not None and acc_id not in self.acc_time:
            self.acc_time[acc_id] = t

    def _plan_metrics(self, plan: dict, t: float | None) -> None:
        for m in plan.get("metrics", []):
            self.acc_name[m["accumulatorId"]] = m["name"]
            self._seen_acc(m["accumulatorId"], t)
        for child in plan.get("children", []):
            self._plan_metrics(child, t)

    def _task_end(self, ev: dict) -> None:
        st = self._stage(ev["Stage ID"])
        info = ev.get("Task Info") or {}
        m = ev.get("Task Metrics") or {}
        st.tasks += 1
        st.indices.add(info.get("Index"))
        reason = (ev.get("Task End Reason") or {}).get("Reason", "Success")
        if info.get("Failed") or reason != "Success":
            st.failed_tasks += 1
        st.run_ms += m.get("Executor Run Time", 0)
        st.cpu_ns += m.get("Executor CPU Time", 0)
        st.gc_ms += m.get("JVM GC Time", 0)
        rd = m.get("Shuffle Read Metrics") or {}
        st.shuffle_read += (rd.get("Remote Bytes Read", 0)
                            + rd.get("Local Bytes Read", 0))
        st.shuffle_write += (m.get("Shuffle Write Metrics") or {}).get(
            "Shuffle Bytes Written", 0)
        st.spill += m.get("Disk Bytes Spilled", 0)
        st.input_bytes += (m.get("Input Metrics") or {}).get("Bytes Read", 0)
        for acc in info.get("Accumulables", []):
            upd = acc.get("Update")
            try:
                val = float(upd)
            except (TypeError, ValueError):
                continue
            st.acc_updates[acc["ID"]] = st.acc_updates.get(acc["ID"], 0) + val

    # -- attribution -------------------------------------------------

    def stage_phase(self, sid: int) -> Phase | None:
        job = self.jobs.get(self.stage_job.get(sid, -1))
        return job.phase if job else None

    def acc_query(self, acc_id: int) -> str | None:
        """The query whose phase registered accumulator ``acc_id``.

        An id the log names (a stage's accumulables or a SQL plan's
        metrics) takes the phase of its first appearance. An id it
        never names, which is what the "non-existent accumulator"
        traces report, takes the phase of the nearest lower id it does
        name: ids are handed out in increasing order as plans are
        built, so the neighbour was registered in the same phase."""
        known = sorted(self.acc_time)
        i = bisect.bisect_right(known, acc_id) - 1
        if i < 0:
            return None
        t = self.acc_time[known[i]]
        phase = Windows([(p.start, p.end, p) for p in self.phases]).find(t)
        return phase.query if phase else None

    # -- spans -------------------------------------------------------

    def spans(self, passes: list[tuple[int, float, float]]) -> list[dict]:
        """Spans pass -> query -> build/exec -> micro-batch -> job ->
        stage, each ``{id, parent, name, kind, start, end}``."""
        out: list[dict] = []

        def add(parent, name, kind, start, end, **attrs):
            out.append({"id": len(out), "parent": parent, "name": name,
                        "kind": kind, "start": start, "end": end, **attrs})
            return len(out) - 1

        pw = Windows([(s, e, add(None, f"pass {n}", "pass", s, e))
                      for n, s, e in passes])
        phase_ids: dict[Phase, int] = {}
        query = None  # (query name, pass span) of the open query span
        for p in self.phases:  # in run order: a query's build, then exec
            key = (p.query, pw.find(p.start))
            if key != query:
                query, qid = key, add(key[1], p.query, "query", p.start,
                                      p.end)
            out[qid]["end"] = p.end
            phase_ids[p] = add(qid, p.group, p.kind, p.start, p.end)
        batch_ids = {}
        for i, b in enumerate(self.batches):
            batch_ids[i] = add(phase_ids.get(b.phase), b.name or b.run_id,
                               "microbatch", b.start,
                               b.start + b.trigger_ms / 1000.0,
                               add_batch_ms=b.add_batch_ms)
        for job in sorted(self.jobs.values(), key=lambda j: j.job_id):
            parent = (batch_ids[job.batch] if job.batch is not None
                      else phase_ids.get(job.phase))
            jid = add(parent, f"job {job.job_id}", "job", job.submit,
                      job.end, group=job.group)
            for sid in job.stage_ids:
                st = self.stages.get(sid)
                if st and st.tasks and self.stage_job.get(sid) == job.job_id:
                    add(jid, f"stage {sid}", "stage", st.submit, st.end,
                        tasks=st.tasks, run_ms=st.run_ms)
        return out


_PY_METRICS = {  # SQL metric name, scale (timing metrics are in ms)
    "functions.python_start_s": ("time to start Python workers", 1e-3),
    "functions.python_run_s": ("time to run Python workers", 1e-3),
    "functions.python_mb_sent": ("data sent to Python workers", 1 / MB),
    "functions.python_mb_returned": ("data returned from Python workers",
                                     1 / MB),
}


def layer_metrics(tr: Trace, cores: int, passes: int) -> dict[str, float]:
    """Per-layer metrics over the timed passes, each a mean per pass
    (ratios are taken over the totals)."""
    timed = [p for p in tr.phases if p.pass_no >= 1]
    build_s = sum(p.end - p.start for p in timed if p.kind == "build")
    sink_s = sum(p.end - p.start for p in timed if p.kind == "exec")

    def jobs_of(kind):
        return [j for j in tr.jobs.values()
                if j.phase and j.phase.pass_no >= 1 and j.phase.kind == kind]

    def stages_of(kind):
        return [st for sid, st in tr.stages.items()
                if (ph := tr.stage_phase(sid)) and ph.pass_no >= 1
                and ph.kind == kind]

    bjobs, ejobs = jobs_of("build"), jobs_of("exec")
    bst, est = stages_of("build"), stages_of("exec")
    build_job_s = _union_s([(j.submit, j.end) for j in bjobs if j.end])
    e_tasks = sum(s.tasks for s in est)
    e_run = sum(s.run_ms for s in est) / 1000.0
    e_idx = sum(len(s.indices) for s in est)
    allst = bst + est

    scans = docs = 0
    for phase, plan in tr.executions:
        if phase and phase.pass_no >= 1:
            for node in _walk(plan):
                if node.get("nodeName", "").startswith("Scan parquet"):
                    scans += 1
                    loc = (node.get("metadata") or {}).get("Location", "")
                    docs += "documents.parquet" in loc

    batches = [b for b in tr.batches if b.phase and b.phase.pass_no >= 1]
    trig = sum(b.trigger_ms for b in batches) / 1000.0
    addb = sum(b.add_batch_ms for b in batches) / 1000.0
    batch_jobs = [j for j in bjobs + ejobs if j.batch is not None and j.end]

    py = {}
    for metric, (name, scale) in _PY_METRICS.items():
        ids = {i for i, n in tr.acc_name.items() if n == name}
        py[metric] = sum(v for s in allst for i, v in s.acc_updates.items()
                         if i in ids) * scale

    n = max(1, passes)
    out = {
        "catalog.scans": scans / n,
        "catalog.documents_scans": docs / n,
        "catalog.input_mb": sum(s.input_bytes for s in allst) / MB / n,
        "operators.build_s": build_s / n,
        "operators.build_share": build_s / (build_s + sink_s)
        if build_s + sink_s else 0.0,
        "operators.build_jobs": len(bjobs) / n,
        "operators.build_job_s": build_job_s / n,
        "operators.driver_s": (build_s - build_job_s) / n,
        "operators.build_task_run_s": sum(s.run_ms for s in bst) / 1000 / n,
        "operators.build_shuffle_write_mb":
            sum(s.shuffle_write for s in bst) / MB / n,
        "exec.sink_s": sink_s / n,
        "exec.jobs": len(ejobs) / n,
        "exec.tasks": e_tasks / n,
        "exec.task_run_s": e_run / n,
        "exec.task_cpu_s": sum(s.cpu_ns for s in est) / 1e9 / n,
        "exec.gc_s": sum(s.gc_ms for s in est) / 1000 / n,
        "exec.core_busy_frac": e_run / (cores * sink_s) if sink_s else 0.0,
        "exec.shuffle_read_mb": sum(s.shuffle_read for s in est) / MB / n,
        "exec.shuffle_write_mb": sum(s.shuffle_write for s in est) / MB / n,
        "exec.spill_mb": sum(s.spill for s in est) / MB / n,
        "exec.failed_tasks": sum(s.failed_tasks for s in est) / n,
        "exec.task_attempts_per_task": e_tasks / e_idx if e_idx else 0.0,
        "streaming.queries": len({b.run_id for b in batches}) / n,
        "streaming.batches": len(batches) / n,
        "streaming.trigger_s": trig / n,
        "streaming.add_batch_s": addb / n,
        "streaming.overhead_s": (trig - addb) / n,
        "streaming.batch_job_s":
            _union_s([(j.submit, j.end) for j in batch_jobs]) / n,
    }
    out.update({k: v / n for k, v in py.items()})
    return out


def _walk(plan: dict):
    yield plan
    for child in plan.get("children", []):
        yield from _walk(child)


_ACC_RE = re.compile(r"non-existent accumulator (\d+)")


def stderr_errors(text: str) -> tuple[int, list[int]]:
    """``(ERROR log lines, accumulator ids named by 'attempted to access
    non-existent accumulator <id>' traces)`` in a stderr segment."""
    errors = sum(1 for line in text.splitlines() if " ERROR " in line)
    return errors, [int(m) for m in _ACC_RE.findall(text)]
