"""Fold a Spark event log into per-span counters.

A span is ``(key, start, end)`` in wall-clock seconds: one timed
operation, or one layer inside it. Jobs and stages belong to the span
in which they were submitted. Spans passed to one :func:`fold` call
must not overlap, so fold operations and the layers inside them in
separate calls. Attribution is by
time, not job group, because the medallion loader submits its jobs
from a thread pool whose threads do not inherit a job group.

Read the log with compression off (``spark.eventLog.compress=false``)
after the SparkContext has stopped, so every event is flushed.
"""

from __future__ import annotations

import bisect
import json
import os
from collections import defaultdict

# Stage accumulables summed per span, by counter name.
_ACCUMULABLES = {
    "internal.metrics.shuffle.write.bytesWritten": "shuffle_bytes",
    "internal.metrics.diskBytesSpilled": "spill_bytes",
    # Rows, not bytes: this Spark build's input.bytesRead counts only a
    # few KB for a multi-MB parquet column scan.
    "internal.metrics.input.recordsRead": "scan_rows",
    "data sent to Python workers": "py_bytes",
    "data returned from Python workers": "py_bytes",
    "time to run Python workers": "py_run_ms",
}
COUNTERS = ("jobs", "stages", "tasks", "job_s", "shuffle_bytes",
            "spill_bytes", "scan_rows", "py_bytes", "py_run_ms")


def read_events(log_dir: str) -> list[dict]:
    """Every event of every log file under ``log_dir``, in file order."""
    events = []
    for root, _, files in sorted(os.walk(log_dir)):
        for name in sorted(files):
            if name.startswith("."):  # Hadoop checksum files
                continue
            with open(os.path.join(root, name), encoding="utf-8") as fh:
                events.extend(json.loads(line) for line in fh if line.strip())
    return events


def _union_s(intervals: list[tuple[int, int]]) -> float:
    """Length in seconds of the union of ``[start, end]`` ms intervals."""
    total, cur_s, cur_e = 0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total / 1000.0


def fold(events: list[dict], spans: list[tuple[str, float, float]]
         ) -> dict[str, dict[str, float]]:
    """Counters per span key (summed when a key names several spans)."""
    windows = sorted((int(s * 1000), int(e * 1000) + 1, k) for k, s, e in spans)
    starts = [w[0] for w in windows]

    def owner(ms: int) -> str | None:
        i = bisect.bisect_right(starts, ms) - 1  # last window started by ms
        return windows[i][2] if i >= 0 and ms <= windows[i][1] else None

    out: dict[str, dict[str, float]] = {
        k: dict.fromkeys(COUNTERS, 0) for k, _, _ in spans}
    job_start: dict[int, int] = {}
    job_spans: dict[str, list[tuple[int, int]]] = defaultdict(list)
    for ev in events:
        kind = ev.get("Event")
        if kind == "SparkListenerJobStart":
            job_start[ev["Job ID"]] = ev["Submission Time"]
        elif kind == "SparkListenerJobEnd" and ev["Job ID"] in job_start:
            start = job_start[ev["Job ID"]]
            key = owner(start)
            if key is not None:
                out[key]["jobs"] += 1
                job_spans[key].append((start, ev["Completion Time"]))
        elif kind == "SparkListenerStageCompleted":
            info = ev["Stage Info"]
            key = owner(info.get("Submission Time", -1))
            if key is None:
                continue
            out[key]["stages"] += 1
            out[key]["tasks"] += info.get("Number of Tasks", 0)
            for acc in info.get("Accumulables", []):
                counter = _ACCUMULABLES.get(acc.get("Name"))
                if counter is not None:
                    out[key][counter] += float(acc.get("Value", 0))
    for key, intervals in job_spans.items():
        out[key]["job_s"] = _union_s(intervals)
    return out
