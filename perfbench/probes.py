"""Measurements taken from outside the program under test.

* :class:`BatchListener` — a ``StreamingQueryListener`` recording each
  micro-batch's ``durationMs`` phases;
* :class:`WriteListener` — a ``QueryExecutionListener`` recording each
  finished query's planning phases (its ``QueryPlanningTracker``) and, for
  a file write, the job commit time;
* :func:`jobs_between` — job and stage metrics from the JVM
  ``AppStatusStore`` (reachable with ``spark.ui.enabled=false``), attributed
  to a window of wall-clock time;
* :func:`peak_rss_mb` — ``VmHWM`` of the driver JVM plus this process;
* :class:`Tracer` — in-memory spans (name, start, end, parent, run id) with
  per-name self time.

Each probe adds up the seconds it spends (``cost_s``), so the traced run
can report what tracing costs against the drain it traces.

Nothing here imports the program; the benchmark wraps calls into each
layer with these.
"""

from __future__ import annotations

import json
import os
import threading
import time
import uuid
from contextlib import contextmanager
from datetime import datetime

from py4j.protocol import Py4JError
from pyspark.sql.streaming import StreamingQueryListener

#: Order in which a micro-batch runs its phases (MicroBatchExecution):
#: used to lay the phases out as consecutive child spans of the batch.
PHASES = ("latestOffset", "walCommit", "getBatch", "queryPlanning", "addBatch", "commitOffsets")


class BatchListener(StreamingQueryListener):
    """Records every progress event of every streaming query in a session.

    Listener events arrive asynchronously on the listener bus; call
    :meth:`wait_terminated` after a query returns to be sure its last
    progress event has been delivered (termination is posted after it)."""

    def __init__(self) -> None:
        self.batches: list[dict] = []
        self.cost_s = 0.0
        self._terminated: set[str] = set()
        self._cond = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        t = time.perf_counter()
        p = event.progress
        start_ms = datetime.fromisoformat(p.timestamp.replace("Z", "+00:00")).timestamp() * 1000
        with self._cond:
            self.batches.append(
                {"batchId": p.batchId, "start_ms": start_ms, "durationMs": dict(p.durationMs)}
            )
            self.cost_s += time.perf_counter() - t

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        with self._cond:
            self._terminated.add(str(event.id))
            self._cond.notify_all()

    def take(self) -> list[dict]:
        """Batches recorded since the last call, in arrival order."""
        with self._cond:
            out, self.batches = self.batches, []
        return out

    def wait_terminated(self, n_queries: int, timeout_s: float = 30.0) -> None:
        """Block until ``n_queries`` queries have posted termination."""
        deadline = time.monotonic() + timeout_s
        with self._cond:
            while len(self._terminated) < n_queries:
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("streaming listener saw no query termination")
                self._cond.wait(left)


def _commit_ms(plan) -> float | None:
    """``jobCommitTime`` of a file-write plan. Under AQE the write command
    sits below the final plan's result stage."""
    while True:
        name = plan.nodeName()
        if name == "AdaptiveSparkPlan":
            plan = plan.executedPlan()
        elif name.endswith("QueryStage"):
            plan = plan.plan()
        else:
            break
    try:
        metric = plan.cmd().metrics().get("jobCommitTime")
    except Py4JError:  # not a write command
        return None
    return float(metric.get().value()) if metric.isDefined() else None


class WriteListener:
    """A JVM ``QueryExecutionListener`` (a Py4J callback) that records each
    successful query's ``QueryPlanningTracker`` phases as epoch-ms
    ``(start, end)`` and, for a file write, its ``jobCommitTime`` in ms.
    Events arrive on the listener bus after the query returns; call
    :meth:`wait_for_write` before reading them."""

    def __init__(self) -> None:
        self.queries: list[dict] = []
        self.cost_s = 0.0
        self._cond = threading.Condition()

    def onSuccess(self, func_name, qe, duration_ns) -> None:
        t = time.perf_counter()
        phases = {}
        it = qe.tracker().phases().iterator()
        while it.hasNext():
            kv = it.next()
            phases[kv._1()] = (kv._2().startTimeMs(), kv._2().endTimeMs())
        rec = {"name": func_name, "phases": phases, "commit_ms": _commit_ms(qe.executedPlan())}
        with self._cond:
            self.queries.append(rec)
            self.cost_s += time.perf_counter() - t
            self._cond.notify_all()

    def onFailure(self, func_name, qe, exception) -> None:
        pass

    def wait_for_write(self, timeout_s: float = 30.0) -> dict:
        """The first recorded file write, once its event has arrived."""
        deadline = time.monotonic() + timeout_s
        with self._cond:
            while True:
                writes = [q for q in self.queries if q["commit_ms"] is not None]
                if writes:
                    return writes[0]
                left = deadline - time.monotonic()
                if left <= 0:
                    raise TimeoutError("query listener saw no file write")
                self._cond.wait(left)

    class Java:
        implements = ["org.apache.spark.sql.util.QueryExecutionListener"]


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def jobs_between(spark, t0_ms: float, t1_ms: float) -> list[dict]:
    """Jobs submitted in ``[t0_ms, t1_ms]`` with their executed stages.

    Skipped stages (shuffle output reused) are left out. Each stage also
    carries its largest task's shuffle-read and output bytes (the status
    store's task summary at quantile 1.0)."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    q1 = sc._gateway.new_array(sc._jvm.double, 1)
    q1[0] = 1.0
    jobs = store.jobsList(None)
    out = []
    for i in range(jobs.size()):
        j = jobs.apply(i)
        sub = _opt_ms(j.submissionTime())
        if sub is None or not (t0_ms <= sub <= t1_ms):
            continue
        stages = []
        ids = j.stageIds()
        for k in range(ids.size()):
            sid = ids.apply(k)
            try:
                s = store.lastStageAttempt(sid)
            except Exception:  # never submitted: skipped stage, no attempt
                continue
            if s.status().toString() != "COMPLETE":
                continue
            st = {
                "id": sid,
                "tasks": s.numTasks(),
                "start_ms": _opt_ms(s.submissionTime()),
                "end_ms": _opt_ms(s.completionTime()),
                "input_bytes": s.inputBytes(),
                "output_bytes": s.outputBytes(),
                "shuffle_read": s.shuffleReadBytes(),
                "shuffle_write": s.shuffleWriteBytes(),
                "spill": s.memoryBytesSpilled() + s.diskBytesSpilled(),
            }
            summ = store.taskSummary(sid, s.attemptId(), q1)
            if summ.isDefined():
                d = summ.get()
                st["max_task_shuffle_read"] = d.shuffleReadMetrics().readBytes().apply(0)
                st["max_task_output"] = d.outputMetrics().bytesWritten().apply(0)
            stages.append(st)
        out.append(
            {
                "id": j.jobId(),
                "start_ms": sub,
                "end_ms": _opt_ms(j.completionTime()),
                "stages": stages,
            }
        )
    return sorted(out, key=lambda x: x["id"])


def _vm_hwm_kb(pid: int) -> int:
    with open(f"/proc/{pid}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                return int(line.split()[1])
    return 0


def peak_rss_mb(spark) -> tuple[float, float]:
    """Peak resident set of the driver JVM and of this Python process."""
    jvm_pid = spark._jvm.java.lang.ProcessHandle.current().pid()
    return _vm_hwm_kb(jvm_pid) / 1024.0, _vm_hwm_kb(os.getpid()) / 1024.0


class Tracer:
    """Spans kept in memory, written once at the end of a run."""

    def __init__(self) -> None:
        self.run_id = uuid.uuid4().hex[:12]
        self.spans: list[dict] = []
        self.cost_s = 0.0

    @contextmanager
    def probe(self):
        """Counts the block's seconds as tracing cost."""
        t = time.perf_counter()
        try:
            yield
        finally:
            self.cost_s += time.perf_counter() - t

    def add(self, name: str, start_s: float, end_s: float, parent: int | None = None, **attrs) -> int:
        t = time.perf_counter()
        sid = len(self.spans)
        self.spans.append(
            {
                "id": sid,
                "run": self.run_id,
                "name": name,
                "start": start_s,
                "end": end_s,
                "parent": parent,
                **attrs,
            }
        )
        self.cost_s += time.perf_counter() - t
        return sid

    @contextmanager
    def span(self, name: str, parent: int | None = None, **attrs):
        """Wall-clock span (epoch seconds) around the block; yields its id."""
        sid = self.add(name, time.time(), 0.0, parent, **attrs)
        try:
            yield sid
        finally:
            self.spans[sid]["end"] = time.time()

    def children(self, sid: int) -> list[dict]:
        return [c for c in self.spans if c["parent"] == sid]

    def child(self, sid: int, name: str) -> int:
        """Id of ``sid``'s first child span called ``name``."""
        return next(c["id"] for c in self.children(sid) if c["name"] == name)

    def self_time(self, sid: int) -> float:
        """Span duration minus the part of it its children cover."""
        sp = self.spans[sid]
        cover = sorted(
            (max(c["start"], sp["start"]), min(c["end"], sp["end"])) for c in self.children(sid)
        )
        covered, cur_s, cur_e = 0.0, None, None
        for s, e in cover:
            if e <= s:
                continue
            if cur_e is None or s > cur_e:
                if cur_e is not None:
                    covered += cur_e - cur_s
                cur_s, cur_e = s, e
            else:
                cur_e = max(cur_e, e)
        if cur_e is not None:
            covered += cur_e - cur_s
        return (sp["end"] - sp["start"]) - covered

    def unattributed(self, sid: int) -> float:
        """Seconds of ``sid`` no leaf span below it covers: the self time of
        ``sid`` and of every descendant that has children of its own. A
        leaf is a measured piece of work (a stage, a phase, a timed call);
        a span with children only holds the gaps between them."""
        kids = self.children(sid)
        if not kids:
            return 0.0
        return self.self_time(sid) + sum(self.unattributed(c["id"]) for c in kids)

    def self_times_by_name(self) -> dict[str, float]:
        out: dict[str, float] = {}
        for sp in self.spans:
            out[sp["name"]] = out.get(sp["name"], 0.0) + self.self_time(sp["id"])
        return out

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(
                {
                    "run": self.run_id,
                    "spans": self.spans,
                    "self_s": self.self_times_by_name(),
                },
                f,
                indent=1,
            )
