"""Spans recorded around the calls into each layer, and the per-layer
metrics derived from them and from Spark's own surfaces.

Spans are kept in memory and written out when the run ends.  A span has a
name, start and end (epoch seconds), a parent, and for query spans the
query name and pass number.  The traced run gives every build and action
span its own Spark job group, so the event log ties each job, stage and
task to the span that started it.
"""

from __future__ import annotations

import contextlib
import json
import statistics
import time
from dataclasses import asdict, dataclass
from pathlib import Path


@dataclass
class Span:
    id: int
    name: str
    start: float
    end: float = 0.0
    parent: int | None = None
    query: str | None = None
    pass_no: int | None = None


class Spans:
    def __init__(self):
        self.spans: list[Span] = []
        self._stack: list[int] = []
        #: called with each span as it opens (the traced run sets a job group)
        self.on_enter = None

    @contextlib.contextmanager
    def span(self, name: str, query: str | None = None, pass_no: int | None = None,
             start: float | None = None):
        s = Span(len(self.spans), name, time.time() if start is None else start,
                 parent=self._stack[-1] if self._stack else None,
                 query=query, pass_no=pass_no)
        self.spans.append(s)
        self._stack.append(s.id)
        if self.on_enter is not None:
            self.on_enter(s)
        try:
            yield s
        finally:
            s.end = time.time()
            self._stack.pop()

    def dump(self, path: Path) -> None:
        path.parent.mkdir(parents=True, exist_ok=True)
        path.write_text(json.dumps([asdict(s) for s in self.spans]))

    def duration(self, s: Span) -> float:
        return s.end - s.start

    def self_time(self, s: Span) -> float:
        """Duration minus the part its direct children cover."""
        kids = sum(self.duration(c) for c in self.spans if c.parent == s.id)
        return self.duration(s) - kids

    def passes(self) -> list[Span]:
        return [s for s in self.spans if s.name == "pass"]


class StreamingProgress:
    """Micro-batch counts and trigger times, bucketed by the current pass."""

    def __init__(self):
        self.pass_no = 0
        self.batches: dict[int, int] = {}
        self.batch_ms: dict[int, float] = {}

    def listener(self):  # noqa: ANN201
        from pyspark.sql.streaming import StreamingQueryListener

        outer = self

        class _Listener(StreamingQueryListener):
            def onQueryStarted(self, event):  # noqa: ANN001, N802
                pass

            def onQueryProgress(self, event):  # noqa: ANN001, N802
                p = outer.pass_no
                outer.batches[p] = outer.batches.get(p, 0) + 1
                ms = (event.progress.durationMs or {}).get("triggerExecution", 0)
                outer.batch_ms[p] = outer.batch_ms.get(p, 0.0) + float(ms)

            def onQueryIdle(self, event):  # noqa: ANN001, N802
                pass

            def onQueryTerminated(self, event):  # noqa: ANN001, N802
                pass

        return _Listener()


# -- event log ---------------------------------------------------------------

_PY_NODE_METRIC = "data sent to Python workers"
_SCAN_BYTES_METRIC = "size of files read"


def _plan_accumulators(plan: dict, py_rows: set[int], scan_bytes: set[int]) -> None:
    """Accumulator ids of the output-row counters of Python exec nodes and
    of the file sizes that scan nodes read."""
    names = {m["name"]: m["accumulatorId"] for m in plan.get("metrics", [])}
    if _PY_NODE_METRIC in names and "number of output rows" in names:
        py_rows.add(names["number of output rows"])
    if _SCAN_BYTES_METRIC in names:
        scan_bytes.add(names[_SCAN_BYTES_METRIC])
    for child in plan.get("children", []):
        _plan_accumulators(child, py_rows, scan_bytes)


def read_event_log(path: Path) -> dict:
    jobs: dict[int, dict] = {}
    stage_job: dict[int, int] = {}
    stages_run: list[int] = []
    tasks: list[dict] = []
    py_rows_acc: set[int] = set()
    scan_bytes_acc: set[int] = set()
    sql_t0: dict[int, float] = {}
    driver_acc: list[tuple[int, int, float]] = []  # (execution, accumulator, value)
    with open(path) as f:
        for line in f:
            ev = json.loads(line)
            kind = ev["Event"]
            if kind == "SparkListenerJobStart":
                props = ev.get("Properties") or {}
                jobs[ev["Job ID"]] = {
                    "group": props.get("spark.jobGroup.id"),
                    "t0": ev["Submission Time"] / 1e3,
                    "t1": None,
                }
                for sid in ev.get("Stage IDs", []):
                    stage_job.setdefault(sid, ev["Job ID"])
            elif kind == "SparkListenerJobEnd":
                if ev["Job ID"] in jobs:
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1e3
            elif kind == "SparkListenerStageCompleted":
                stages_run.append(ev["Stage Info"]["Stage ID"])
            elif kind == "SparkListenerTaskEnd":
                tasks.append(ev)
            elif kind.endswith(("SQLExecutionStart", "SQLAdaptiveExecutionUpdate")):
                if "time" in ev:
                    sql_t0[ev["executionId"]] = ev["time"] / 1e3
                _plan_accumulators(ev.get("sparkPlanInfo") or {}, py_rows_acc, scan_bytes_acc)
            elif kind.endswith("SparkListenerDriverAccumUpdates"):
                driver_acc += [(ev["executionId"], a, v) for a, v in ev["accumUpdates"]]
    return {"jobs": jobs, "stage_job": stage_job, "stages_run": stages_run,
            "tasks": tasks, "py_rows_acc": py_rows_acc, "scan_bytes_acc": scan_bytes_acc,
            "sql_t0": sql_t0, "driver_acc": driver_acc}


def _span_at(t: float, query_spans: list[Span]) -> Span | None:
    return next((s for s in query_spans if s.start <= t <= s.end), None)


def _job_span(job: dict, by_group: dict[str, Span], query_spans: list[Span]) -> Span | None:
    if job["group"] in by_group:
        return by_group[job["group"]]
    return _span_at(job["t0"], query_spans)  # other threads (micro-batches): by time


def _covered(intervals: list[tuple[float, float]], lo: float, hi: float) -> float:
    """Length of [lo, hi] covered by the union of ``intervals``."""
    total, cur = 0.0, lo
    for a, b in sorted(intervals):
        a, b = max(a, cur), min(b, hi)
        if b > a:
            total += b - a
            cur = b
    return total


def group_id(span: Span) -> str:
    return f"perfbench-span-{span.id}"


def layer_metrics(spans: Spans, log: dict, warm: list[int], extra: dict) -> dict:
    """Per-layer figures for the warm passes ``warm`` (median over passes).

    ``extra`` holds what the run measured itself, keyed by pass:
    ``python_s``, ``rows``, ``batches``, ``batch_ms``, and
    ``persisted_rdds`` and ``cached_mb`` read after each pass (the cold
    pass, 0, included).  Every figure is registered on each warm pass,
    as 0 where nothing happened, so an idle layer still reports."""
    qspans = [s for s in spans.spans if s.name in ("build", "action")]
    by_group = {group_id(s): s for s in qspans}
    job_span = {j: _job_span(job, by_group, qspans) for j, job in log["jobs"].items()}
    per: dict[int, dict[str, float]] = {p: {} for p in warm}

    def add(p: int | None, key: str, v: float) -> None:
        if p in per:
            per[p][key] = per[p].get(key, 0.0) + v

    for j, s in job_span.items():
        if s is not None:
            add(s.pass_no, "spark.jobs", 1)
            add(s.pass_no, "plans.build_jobs", s.name == "build")

    def stage_pass(sid: int) -> int | None:
        s = job_span.get(log["stage_job"].get(sid))
        return s.pass_no if s is not None else None

    for sid in log["stages_run"]:
        add(stage_pass(sid), "spark.stages", 1)
    for ev in log["tasks"]:
        p = stage_pass(ev["Stage ID"])
        if p not in per:
            continue
        m = ev.get("Task Metrics") or {}
        inp = m.get("Input Metrics") or {}
        sr = m.get("Shuffle Read Metrics") or {}
        sw = m.get("Shuffle Write Metrics") or {}
        run_s = m.get("Executor Run Time", 0) / 1e3
        add(p, "spark.tasks", 1)
        add(p, "spark.failed_tasks", (ev.get("Task End Reason") or {}).get("Reason") != "Success")
        add(p, "spark.task_s", run_s)
        add(p, "spark.cpu_s", m.get("Executor CPU Time", 0) / 1e9)
        add(p, "spark.gc_s", m.get("JVM GC Time", 0) / 1e3)
        add(p, "spark.spill_bytes", m.get("Disk Bytes Spilled", 0))
        add(p, "spark.shuffle_write_bytes", sw.get("Shuffle Bytes Written", 0))
        add(p, "spark.shuffle_read_bytes",
            sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0))
        add(p, "spark.shuffle_fetch_wait_s", sr.get("Fetch Wait Time", 0) / 1e3)
        add(p, "sources.write_bytes", (m.get("Output Metrics") or {}).get("Bytes Written", 0))
        add(p, "catalog.scan_rows", inp.get("Records Read", 0))
        add(p, "catalog.scan_task_s", run_s if inp.get("Records Read", 0) else 0.0)
        add(p, "operators.python_rows", sum(
            float(acc.get("Update") or 0) for acc in (ev.get("Task Info") or {}).get("Accumulables", [])
            if acc.get("ID") in log["py_rows_acc"]))

    # task input bytes miss parquet's reads; the scan node's file size does not
    for p in warm:
        add(p, "catalog.scan_bytes", 0)
    for ex, acc, v in log["driver_acc"]:
        s = _span_at(log["sql_t0"].get(ex, -1.0), qspans)
        if acc in log["scan_bytes_acc"] and s is not None:
            add(s.pass_no, "catalog.scan_bytes", v)

    # driver-side result time: action wall not covered by its own jobs
    jobs_of: dict[int, list[tuple[float, float]]] = {}
    for j, s in job_span.items():
        job = log["jobs"][j]
        if s is not None and job["t1"] is not None:
            jobs_of.setdefault(s.id, []).append((job["t0"], job["t1"]))
    for s in qspans:
        d = spans.duration(s)
        if s.name == "build":
            add(s.pass_no, "plans.build_s", d)
        else:
            add(s.pass_no, "result.collect_s", d - _covered(jobs_of.get(s.id, []), s.start, s.end))
    for p in warm:
        add(p, "operators.python_s", extra["python_s"].get(p, 0.0))
        add(p, "result.rows", extra["rows"].get(p, 0))
        add(p, "streaming.batches", extra["batches"].get(p, 0))
        add(p, "streaming.batch_s", extra["batch_ms"].get(p, 0.0) / 1e3)
        add(p, "materialize.persisted_rdds", extra["persisted_rdds"][p])
        add(p, "materialize.cached_mb", extra["cached_mb"][p])

    names = {k for d in per.values() for k in d}
    out = {k: statistics.median(per[p].get(k, 0.0) for p in warm) for k in names}
    # blocks left persisted by a pass pile up: growth from the end of the
    # cold pass to the end of the last warm pass, per warm pass
    out["materialize.persisted_rdds_growth"] = (
        extra["persisted_rdds"][warm[-1]] - extra["persisted_rdds"][0]) / len(warm)
    return out


