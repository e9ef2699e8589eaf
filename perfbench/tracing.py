"""Tracing plumbing of the benchmark: an in-memory span recorder, readers
for Spark's own status stores, and the statistics the results use.

Spans are recorded around calls into the engine's public entry points
from the benchmark's own files; nothing inside the engine is patched.
"""

from __future__ import annotations

import json
import math
import statistics
import time
from contextlib import contextmanager

#: StageData counters summed per window: (metric suffix, getter, scale)
STAGE_FIELDS = [
    ("executor_run_s", "executorRunTime", 1e-3),
    ("executor_cpu_s", "executorCpuTime", 1e-9),
    ("gc_s", "jvmGcTime", 1e-3),
    ("shuffle_write_bytes", "shuffleWriteBytes", 1),
    ("shuffle_read_bytes", "shuffleReadBytes", 1),
    ("spill_bytes", "diskBytesSpilled", 1),
    # rows the scans handed on: for CSV, after the filters pushed into it
    ("scan_output_records", "inputRecords", 1),
    ("output_records", "outputRecords", 1),
]


class Spans:
    """Spans kept in memory and written out once, when the run ends.

    A span has a name, start and end (seconds on the perf counter), the
    id of the span open when it started (its cause) and the id of the
    unit of work it belongs to. ``enabled=False`` records nothing."""

    def __init__(self, enabled: bool):
        self.enabled = enabled
        self.spans: list[dict] = []
        self._open: list[int] = []
        self.unit = 0

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {"id": sid, "name": name, "parent": self._open[-1] if self._open else None,
               "unit": self.unit, "start": time.perf_counter(), "end": None}
        self.spans.append(rec)
        self._open.append(sid)
        try:
            yield
        finally:
            rec["end"] = time.perf_counter()
            self._open.pop()

    def durations(self, name: str) -> list[float]:
        return [s["end"] - s["start"] for s in self.spans if s["name"] == name and s["end"]]

    def write(self, path: str) -> None:
        with open(path, "w") as fh:
            for s in self.spans:
                fh.write(json.dumps(s) + "\n")


#: the recorder of an untraced pass
NO_SPANS = Spans(enabled=False)


class StageReader:
    """Per-window sums over Spark's ``AppStatusStore.stageList``.

    Works with ``spark.ui.enabled=false``. On Spark 4.1 the signature is
    ``stageList(List, boolean, boolean, double[], List)``; it returns the
    stages newest first as a Scala Seq. ``mark()`` remembers the newest
    stage id; ``since_mark()`` sums the counters of every stage after it
    that ran (skipped stages did no work and are not counted)."""

    def __init__(self, spark):
        from pyspark import SparkContext

        jvm = spark._jvm
        self._store = spark._jsparkSession.sparkContext().statusStore()
        self._args = (
            jvm.java.util.ArrayList(), False, False,
            SparkContext._gateway.new_array(jvm.double, 0), jvm.java.util.ArrayList(),
        )
        self._last = -1

    def _stages(self):
        seq = self._store.stageList(*self._args)
        return [seq.apply(i) for i in range(seq.size())]

    def mark(self) -> None:
        stages = self._stages()
        self._last = max((s.stageId() for s in stages), default=-1)

    def job_mark(self) -> int:
        jobs = self._store.jobsList(None)
        return max((jobs.apply(i).jobId() for i in range(jobs.size())), default=-1)

    def jobs_wall_s(self, after: int) -> float:
        """Seconds from the first submission to the last completion of the
        jobs numbered after ``after``."""
        jobs = self._store.jobsList(None)
        spans = []
        for i in range(jobs.size()):
            j = jobs.apply(i)
            if j.jobId() > after and j.submissionTime().isDefined() and j.completionTime().isDefined():
                spans.append((j.submissionTime().get().getTime(), j.completionTime().get().getTime()))
        if not spans:
            return 0.0
        return (max(e for _, e in spans) - min(s for s, _ in spans)) / 1000

    def since_mark(self) -> dict:
        out = {"stages": 0, "tasks": 0, **{k: 0 for k, _, _ in STAGE_FIELDS}}
        for s in self._stages():
            if s.stageId() <= self._last or s.status().toString() == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += s.numTasks()
            for key, getter, scale in STAGE_FIELDS:
                out[key] += getattr(s, getter)() * scale
        return out


def count_exchanges(df) -> int:
    """Exchange nodes (shuffle and broadcast) in ``df``'s physical plan."""
    plan = df._jdf.queryExecution().executedPlan().toString()
    return sum(1 for line in plan.splitlines() if "Exchange " in line and "ReusedExchange" not in line)


#: StreamingQueryProgress.durationMs keys -> per-layer metric suffixes
PROGRESS_KEYS = {
    "latestOffset": "latest_offset_ms",
    "getBatch": "get_batch_ms",
    "queryPlanning": "query_planning_ms",
    "addBatch": "add_batch_ms",
    "walCommit": "wal_commit_ms",
    "commitOffsets": "commit_offsets_ms",
    "triggerExecution": "trigger_ms",
}


def progress_summary(progress: list[dict], first_batch: int) -> dict:
    """Per-batch medians of ``query.recentProgress`` durations for the
    batches numbered ``first_batch`` and later that read input."""
    batches = [p for p in progress if p["batchId"] >= first_batch and p.get("numInputRows", 0) > 0]
    out = {"batches": len(batches)}
    for key, name in PROGRESS_KEYS.items():
        out[name] = median([p["durationMs"].get(key, 0) for p in batches]) if batches else 0.0
    out["rows_per_batch"] = median([p["numInputRows"] for p in batches]) if batches else 0.0
    return out


def median(values) -> float:
    return float(statistics.median(values))


def tail_percentile(values, q: float) -> float:
    """The ``q`` quantile of ``values`` (nearest rank). A tail percentile
    (q above the median) is refused unless at least ten samples lie
    beyond it: with fewer, it is one or two samples, not a tail."""
    n = len(values)
    if not n:
        raise ValueError("no samples")
    rank = max(1, math.ceil(q * n))
    if q > 0.5 and n - rank < 10:
        raise ValueError(f"p{q * 100:g} of {n} samples has {n - rank} beyond it; needs 10")
    return float(sorted(values)[rank - 1])
