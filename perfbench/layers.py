"""Pure measurement logic of the benchmark: latency statistics, spans
and self time, and the parsing of Spark's monitoring replies into
per-layer metrics.

Nothing here imports pyspark, so the rules are testable on recorded
replies (``test_layers.py``).
"""

from __future__ import annotations

import re
import statistics
from dataclasses import dataclass, field
from datetime import datetime

MB = 1024 * 1024


# ---------------------------------------------------------------------------
# Latency statistics
# ---------------------------------------------------------------------------


def tail(samples: list[float], beyond: int = 10) -> tuple[float, float, int]:
    """The highest percentile that has at least ``beyond`` samples
    above it: returns ``(value, percentile, n)``.

    Sorted ascending, the value at 1-based rank ``n - beyond`` has
    exactly ``beyond`` samples after it, and it sits at percentile
    ``100 * (n - beyond) / n``. With ``beyond`` samples or fewer no
    percentile qualifies; the maximum is returned at percentile 100
    so the caller still sees a value, and the percentile tells the
    reader it is unsupported.
    """
    n = len(samples)
    if n == 0:
        raise ValueError("tail of no samples")
    ordered = sorted(samples)
    if n <= beyond:
        return ordered[-1], 100.0, n
    return ordered[n - beyond - 1], 100.0 * (n - beyond) / n, n


def median(values: list[float]) -> float:
    return float(statistics.median(values)) if values else 0.0


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    name: str
    start: float  # epoch seconds
    end: float
    children: list["Span"] = field(default_factory=list)
    group: str | None = None  # Spark job group the span's jobs carry

    @property
    def duration(self) -> float:
        return self.end - self.start


def covered(start: float, end: float, intervals: list[tuple[float, float]]) -> float:
    """Length of ``[start, end]`` covered by the union of ``intervals``."""
    total = 0.0
    cur_s = cur_e = None
    for s, e in sorted((max(s, start), min(e, end)) for s, e in intervals):
        if e <= s:
            continue
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: Span) -> float:
    """A span's duration minus the part of it its children cover."""
    return span.duration - covered(
        span.start, span.end, [(c.start, c.end) for c in span.children]
    )


def walk(span: Span):
    """The span and all its descendants, depth first."""
    yield span
    for c in span.children:
        yield from walk(c)


def attach(parents: list[Span], child: Span) -> bool:
    """Attach ``child`` under the innermost span of ``parents`` (and
    their descendants) whose interval contains the child's start.
    With one client running one query at a time, containment in time
    is containment in causality."""
    for p in parents:
        if p.start <= child.start <= p.end:
            if not attach(p.children, child):
                p.children.append(child)
            return True
    return False


# ---------------------------------------------------------------------------
# Spark REST replies
# ---------------------------------------------------------------------------


def rest_time(stamp: str) -> float:
    """``2026-10-17T04:19:31.060GMT`` -> epoch seconds."""
    return datetime.strptime(
        stamp.replace("GMT", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def job_spans(jobs: list[dict]) -> list[Span]:
    """A ``job:<id>`` span for every finished job of a ``/jobs`` reply."""
    return [
        Span(f"job:{j['jobId']}", rest_time(j["submissionTime"]), rest_time(j["completionTime"]))
        for j in jobs
        if "completionTime" in j
    ]


def stage_totals(jobs: list[dict], stages: list[dict], group: str) -> dict[str, float]:
    """Sum the stage metrics of every job whose job group is ``group``.
    Skipped stages (reused shuffle output) ran no tasks and are not
    counted."""
    mine = [j for j in jobs if j.get("jobGroup") == group]
    ids = {sid for j in mine for sid in j.get("stageIds", [])}
    ran = [s for s in stages if s["stageId"] in ids and s.get("status") != "SKIPPED"]
    return {
        "jobs": len(mine),
        "stages": len(ran),
        "tasks": sum(s.get("numCompleteTasks", 0) for s in ran),
        "failed_tasks": sum(s.get("numFailedTasks", 0) for s in ran),
        "executor_run_s": sum(s.get("executorRunTime", 0) for s in ran) / 1e3,
        "executor_cpu_s": sum(s.get("executorCpuTime", 0) for s in ran) / 1e9,
        "gc_s": sum(s.get("jvmGcTime", 0) for s in ran) / 1e3,
        "input_mb": sum(s.get("inputBytes", 0) for s in ran) / MB,
        "shuffle_write_mb": sum(s.get("shuffleWriteBytes", 0) for s in ran) / MB,
        "shuffle_read_mb": sum(s.get("shuffleReadBytes", 0) for s in ran) / MB,
        "spill_mb": sum(s.get("diskBytesSpilled", 0) for s in ran) / MB,
    }


def longest_stage(jobs: list[dict], stages: list[dict], group: str) -> dict | None:
    """The stage of ``group`` with the most executor run time."""
    ids = {sid for j in jobs if j.get("jobGroup") == group for sid in j.get("stageIds", [])}
    ran = [s for s in stages if s["stageId"] in ids and s.get("numCompleteTasks", 0) > 0]
    return max(ran, key=lambda s: s.get("executorRunTime", 0), default=None)


def skew(task_summary: dict) -> float:
    """max / median task run time from a ``taskSummary?quantiles=0.5,1.0``
    reply; 1.0 when the median is 0 ms (sub-millisecond tasks)."""
    med, top = task_summary["executorRunTime"]
    return top / med if med > 0 else 1.0


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1.0 / MB, "KiB": 1.0 / 1024, "MiB": 1.0, "GiB": 1024.0, "TiB": MB,
}
_TOTAL = re.compile(r"^\s*(-?[\d.,]+)\s*([A-Za-z]+)")


def metric_total(value: str) -> float:
    """Total of a SQL node metric string, in seconds for timings and
    MiB for sizes. Spark renders a multi-task metric as
    ``total (min, med, max (stageId: taskId))\\n9.2 s (2.3 s, ...)``
    and a single figure as ``9.2 s``."""
    line = value.split("\n")[-1]
    m = _TOTAL.match(line)
    if not m or m.group(2) not in _UNITS:
        raise ValueError(f"unparsed SQL metric value {value!r}")
    return float(m.group(1).replace(",", "")) * _UNITS[m.group(2)]


PYTHON_METRICS = {
    "time to run Python workers": "run_s",
    "time to start Python workers": "start_s",
    "data sent to Python workers": "sent_mb",
    "data returned from Python workers": "returned_mb",
}


def python_totals(executions: list[dict]) -> dict[str, float]:
    """Sum the Python-worker metrics of every SQL plan node that
    reports them (MapInPandas, ArrowEvalPython, FlatMapGroupsInPandas,
    ...): the node is recognised by its metrics, not its name, so a
    new Python node kind is counted without a list to update."""
    out = dict.fromkeys(PYTHON_METRICS.values(), 0.0)
    for ex in executions:
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = PYTHON_METRICS.get(m.get("name"))
                if key is not None:
                    out[key] += metric_total(m["value"])
    return out


# ---------------------------------------------------------------------------
# Streaming listener progress
# ---------------------------------------------------------------------------


def progress_time(progress: dict) -> float:
    """Batch start of a progress event (``2026-10-17T04:19:15.458Z``)."""
    return datetime.strptime(
        progress["timestamp"].replace("Z", "+0000"), "%Y-%m-%dT%H:%M:%S.%f%z"
    ).timestamp()


def progress_span(progress: dict) -> Span:
    start = progress_time(progress)
    ms = progress.get("durationMs", {}).get("triggerExecution", 0)
    return Span(f"batch:{progress.get('name')}:{progress['batchId']}", start, start + ms / 1e3)


def streaming_totals(progresses: list[dict]) -> dict[str, float]:
    """Per-layer streaming figures from listener progress events.
    State size is the last batch's state of each stream run, summed
    over runs: what the drains left held in state stores."""
    ms = lambda p, k: p.get("durationMs", {}).get(k, 0) / 1e3  # noqa: E731
    last: dict[str, dict] = {}
    for p in sorted(progresses, key=lambda p: (p.get("runId", ""), p["batchId"])):
        last[p.get("runId", "")] = p
    ops = [op for p in last.values() for op in p.get("stateOperators", [])]
    n = len(progresses)
    empty = sum(1 for p in progresses if p.get("numInputRows", 0) == 0)
    return {
        "batches": n,
        "add_batch_s": sum(ms(p, "addBatch") for p in progresses),
        "wal_commit_s": sum(ms(p, "walCommit") for p in progresses),
        "commit_offsets_s": sum(ms(p, "commitOffsets") for p in progresses),
        "planning_s": sum(ms(p, "queryPlanning") for p in progresses),
        "input_rows": sum(p.get("numInputRows", 0) for p in progresses),
        "state_rows": sum(op.get("numRowsTotal", 0) for op in ops),
        "state_mb": sum(op.get("memoryUsedBytes", 0) for op in ops) / MB,
        "empty_batch_ratio": empty / n if n else 0.0,
    }
