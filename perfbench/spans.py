"""Layer attribution from outside the engine: spans around calls into
each layer's public functions, plus Spark's REST API read after the
timed pass.

Spans stay in memory and are written to one JSON file at the end.
Jobs, stages and SQL executions reported by the REST API are assigned
to the innermost span whose interval holds their submission time; that
works because the benchmark runs one operation at a time from one
thread.
"""

from __future__ import annotations

import functools
import json
import re
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime, timezone


class Tracer:
    """In-memory spans: name, start, end, parent index, operation id."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.op: str | None = None
        self.counts: dict[str, float] = {}

    @contextmanager
    def span(self, name: str):
        rec = {
            "name": name,
            "start": time.time(),
            "end": None,
            "parent": self._stack[-1] if self._stack else None,
            "op": self.op,
        }
        self.spans.append(rec)
        self._stack.append(len(self.spans) - 1)
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, key: str, value: float) -> None:
        self.counts[key] = self.counts.get(key, 0) + value

    def total(self, name: str) -> float:
        """Summed duration of the outermost spans called ``name`` (a
        nested call into the same layer is not counted twice)."""
        return sum(
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and name not in self.ancestors(s)
        )

    def ancestors(self, span: dict) -> set[str]:
        names = set()
        while span["parent"] is not None:
            span = self.spans[span["parent"]]
            names.add(span["name"])
        return names

    def owner(self, t: float) -> dict | None:
        """Innermost span whose interval holds time ``t``."""
        best = None
        for s in self.spans:
            if s["start"] <= t <= (s["end"] or t):
                if best is None or s["start"] >= best["start"]:
                    best = s
        return best

    def dump(self, path) -> None:
        with open(path, "w") as fh:
            json.dump({"spans": self.spans, "counts": self.counts}, fh)


def wrap(tracer: Tracer, owner, attr: str, span: str, after=None) -> None:
    """Replace ``owner.attr`` by a function that records a span around
    each call; ``after(tracer, result, args, kwargs)`` may record counts
    once the call has returned."""
    fn = getattr(owner, attr)

    @functools.wraps(fn)
    def traced(*args, **kwargs):
        with tracer.span(span):
            result = fn(*args, **kwargs)
        if after is not None:
            after(tracer, result, args, kwargs)
        return result

    setattr(owner, attr, traced)


# --------------------------------------------------------------------------
# Spark REST API
# --------------------------------------------------------------------------


def rest(spark, path: str):
    url = spark.sparkContext.uiWebUrl
    app = spark.sparkContext.applicationId
    with urllib.request.urlopen(f"{url}/api/v1/applications/{app}/{path}", timeout=60) as r:
        return json.load(r)


def rest_time(stamp: str) -> float:
    """Epoch seconds of a REST timestamp such as
    ``2026-10-17T03:05:27.123GMT``."""
    return (
        datetime.strptime(stamp.replace("GMT", ""), "%Y-%m-%dT%H:%M:%S.%f")
        .replace(tzinfo=timezone.utc)
        .timestamp()
    )


_UNITS = {
    "ns": 1e-9, "us": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0,
    "B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}


def metric_total(value: str) -> float:
    """Total of a SQL node metric as the UI renders it: either a plain
    number, or ``total (min, med, max ...)\\n12.3 s (...)``."""
    line = value.split("\n")[-1] if "\n" in value else value
    m = re.match(r"\s*([\d.,]+)\s*([A-Za-z]*)", line)
    if not m:
        return 0.0
    return float(m.group(1).replace(",", "")) * _UNITS.get(m.group(2), 1.0)


PYTHON_METRICS = {
    "time to run Python workers": "python.worker_run_s",
    "time to start Python workers": "python.worker_start_s",
    "data sent to Python workers": "python.bytes_sent_b",
}


def spark_layers(spark, tracer: Tracer) -> dict[str, float]:
    """Jobs, stages, tasks and SQL node metrics of every job submitted
    inside an operation span, summed.  Build-time jobs are counted, and
    the time covered by at least one running job inside a CSV sink is
    measured, by the span that launched each job (AQE runs several jobs
    at once, so job durations are not summed)."""
    out = dict.fromkeys(
        [
            "spark.jobs", "spark.stages", "spark.tasks", "spark.executor_run_s",
            "spark.executor_cpu_s", "spark.gc_s", "spark.shuffle_write_b",
            "spark.shuffle_fetch_wait_s", "spark.spill_b", "catalog.build_jobs",
            "sources.csv.sink_jobs_s", *PYTHON_METRICS.values(),
        ],
        0.0,
    )
    ours: set[int] = set()
    stage_ids: set[int] = set()
    sink_jobs: list[tuple[float, float]] = []
    for job in rest(spark, "jobs"):
        span = tracer.owner(rest_time(job["submissionTime"]))
        if span is None or span["op"] is None:
            continue
        ours.add(job["jobId"])
        stage_ids.update(job["stageIds"])
        out["spark.jobs"] += 1
        names = {span["name"], *tracer.ancestors(span)}
        if "catalog.build" in names:
            out["catalog.build_jobs"] += 1
        if "sources.csv.sink" in names and "completionTime" in job:
            sink_jobs.append(
                (rest_time(job["submissionTime"]), rest_time(job["completionTime"]))
            )
    out["sources.csv.sink_jobs_s"] = covered(sink_jobs)
    for st in rest(spark, "stages"):
        if st["stageId"] not in stage_ids or st["status"] == "SKIPPED":
            continue
        out["spark.stages"] += 1
        out["spark.tasks"] += st["numCompleteTasks"] + st["numFailedTasks"]
        out["spark.executor_run_s"] += st["executorRunTime"] / 1e3
        out["spark.executor_cpu_s"] += st["executorCpuTime"] / 1e9
        out["spark.gc_s"] += st["jvmGcTime"] / 1e3
        out["spark.shuffle_write_b"] += st["shuffleWriteBytes"]
        out["spark.shuffle_fetch_wait_s"] += st["shuffleFetchWaitTime"] / 1e3
        out["spark.spill_b"] += st["memoryBytesSpilled"] + st["diskBytesSpilled"]
    for ex in rest(spark, "sql?details=true&planDescription=false&length=1000000"):
        jobs = {*ex.get("successJobIds", []), *ex.get("failedJobIds", [])}
        if not jobs & ours:
            continue
        for node in ex.get("nodes", []):
            for m in node.get("metrics", []):
                key = PYTHON_METRICS.get(m["name"])
                if key:
                    out[key] += metric_total(m["value"])
    return out


def covered(intervals: list[tuple[float, float]]) -> float:
    """Length of the union of ``(start, end)`` intervals."""
    total, reach = 0.0, float("-inf")
    for start, end in sorted(intervals):
        if end > reach:
            total += end - max(start, reach)
            reach = end
    return total
