"""Spark event-log reader and the per-layer metrics derived from it.

Reads the rolling layout Spark 4 writes under ``spark.eventLog.dir``
when ``spark.eventLog.rolling.enabled`` is set: one directory
``eventlog_v2_<app>`` per application holding ``events_<n>_<app>``
files, read in the order of ``n``, beside an ``appstatus_<app>`` marker
and checksum files, which are skipped.
"""

from __future__ import annotations

import json
import os
import re
import statistics
from collections.abc import Iterable, Iterator

MB = 1024 * 1024
_ROLLING_INDEX = re.compile(r"^events_(\d+)_")

# SQL metric names of the Python evaluation nodes (ArrowEvalPython,
# FlatMapGroupsInPandas(WithState), MapInPandas, ...).
PY_SENT = "data sent to Python workers"
PY_RECV = "data returned from Python workers"
PY_RUN = "time to run Python workers"
PY_START = "time to start Python workers"

_STREAM_PROGRESS = (
    "org.apache.spark.sql.streaming.StreamingQueryListener$QueryProgressEvent"
)


def event_files(log_dir: str, app_id: str | None = None) -> list[str]:
    """Event files under ``log_dir`` in write order, for one app or all."""
    files: list[str] = []
    for entry in sorted(os.listdir(log_dir)):
        if not entry.startswith("eventlog_v2_"):
            continue
        if app_id is not None and entry != f"eventlog_v2_{app_id}":
            continue
        path = os.path.join(log_dir, entry)
        parts = [p for p in os.listdir(path) if _ROLLING_INDEX.match(p)]
        parts.sort(key=lambda p: int(_ROLLING_INDEX.match(p).group(1)))
        files.extend(os.path.join(path, p) for p in parts)
    return files


def read_events(files: Iterable[str]) -> Iterator[dict]:
    for path in files:
        with open(path, encoding="utf-8") as fh:
            for line in fh:
                line = line.strip()
                if line:
                    yield json.loads(line)


def union_s(intervals: Iterable[tuple[float, float]]) -> float:
    """Total length covered by ``(start, end)`` intervals."""
    total = 0.0
    cur_s = cur_e = None
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


def overlap_s(intervals: Iterable[tuple[float, float]],
              lo: float, hi: float) -> float:
    """Length of the union of ``intervals`` that falls inside [lo, hi]."""
    return union_s(
        (max(s, lo), min(e, hi)) for s, e in intervals if e > lo and s < hi
    )


class EventLog:
    """The parts of one application's event log the benchmark uses.

    Times are epoch seconds, the same clock as ``time.time()``."""

    def __init__(self, events: Iterable[dict]):
        self.jobs: list[tuple[float, float]] = []
        self.stages: list[dict] = []  # {"end", "acc": {name: value}}
        self.tasks: list[dict] = []  # {"end", "metrics"}
        self.progress: list[dict] = []  # StreamingQueryProgress as JSON
        job_start: dict[int, float] = {}
        for ev in events:
            kind = ev.get("Event")
            if kind == "SparkListenerJobStart":
                job_start[ev["Job ID"]] = ev["Submission Time"] / 1000
            elif kind == "SparkListenerJobEnd":
                start = job_start.pop(ev["Job ID"], None)
                if start is not None:
                    self.jobs.append((start, ev["Completion Time"] / 1000))
            elif kind == "SparkListenerStageCompleted":
                info = ev["Stage Info"]
                acc: dict[str, float] = {}
                for a in info.get("Accumulables", []):
                    try:
                        acc[a["Name"]] = acc.get(a["Name"], 0) + float(
                            a["Value"])
                    except (KeyError, TypeError, ValueError):
                        continue
                end = info.get("Completion Time") or info.get(
                    "Submission Time") or 0
                self.stages.append({"end": end / 1000, "acc": acc})
            elif kind == "SparkListenerTaskEnd":
                m = ev.get("Task Metrics")
                if m:
                    self.tasks.append({
                        "end": ev["Task Info"]["Finish Time"] / 1000,
                        "metrics": m,
                    })
            elif kind == _STREAM_PROGRESS:
                self.progress.append(ev["progress"])

    @classmethod
    def load(cls, log_dir: str, app_id: str | None = None) -> "EventLog":
        return cls(read_events(event_files(log_dir, app_id)))

    def layer_metrics(self, windows: list[tuple[float, float]],
                      cores: int) -> dict[str, float]:
        """Per-pass averages of the event-log layers over ``windows``
        (one ``(start, end)`` per timed pass)."""
        n = len(windows)

        def inside(t: float) -> bool:
            return any(lo <= t <= hi for lo, hi in windows)

        tasks = [t["metrics"] for t in self.tasks if inside(t["end"])]
        stages = [s["acc"] for s in self.stages if inside(s["end"])]
        jobs = [j for j in self.jobs if inside(j[0])]

        def tsum(*path: str) -> float:
            total = 0.0
            for m in tasks:
                v = m
                for key in path:
                    v = v.get(key, {}) if isinstance(v, dict) else {}
                total += v if isinstance(v, (int, float)) else 0
            return total

        def acc(name: str) -> float:
            return sum(a.get(name, 0.0) for a in stages)

        wall = sum(hi - lo for lo, hi in windows)
        task_s = tsum("Executor Run Time") / 1000
        job_cover = sum(
            overlap_s(self.jobs, lo, hi) for lo, hi in windows)
        shuffle_read = (tsum("Shuffle Read Metrics", "Remote Bytes Read")
                        + tsum("Shuffle Read Metrics", "Local Bytes Read"))
        out = {
            "scheduler.jobs": len(jobs),
            "scheduler.stages": len(stages),
            "scheduler.tasks": len(tasks),
            "scheduler.task_s": task_s,
            "scheduler.utilization": task_s / (wall * cores) if wall else 0.0,
            "scheduler.gap_s": wall - job_cover,
            "exchange.shuffle_write_mb":
                tsum("Shuffle Write Metrics", "Shuffle Bytes Written") / MB,
            "exchange.shuffle_read_mb": shuffle_read / MB,
            # fetch wait is always 0 on local[N]: every block is local
            "exchange.shuffle_write_s":
                tsum("Shuffle Write Metrics", "Shuffle Write Time") / 1e9,
            "exchange.spill_mb": tsum("Disk Bytes Spilled") / MB,
            "sources.scan_mb": tsum("Input Metrics", "Bytes Read") / MB,
            "sources.write_mb": tsum("Output Metrics", "Bytes Written") / MB,
            "python.sent_mb": acc(PY_SENT) / MB,
            "python.recv_mb": acc(PY_RECV) / MB,
            # SQL timing metrics are recorded in milliseconds
            "python.run_s": acc(PY_RUN) / 1000,
            # workers are reused, so after the cold pass this reads 0.
            # "time to initialize Python workers" is not used: summed over
            # tasks it exceeds all executor run time of a pass, so it is
            # not time spent in the pass
            "python.start_s": acc(PY_START) / 1000,
            "jvm.gc_s": tsum("JVM GC Time") / 1000,
        }
        out.update(self._streaming(windows))
        return {k: v / n if n and k not in _RATIOS else v
                for k, v in out.items()}

    def _streaming(self, windows: list[tuple[float, float]]) -> dict:
        triggers, wal, commit, rows = [], 0.0, 0.0, 0.0
        for p in self.progress:
            ts = _iso_epoch(p.get("timestamp"))
            if ts is None or not any(lo <= ts <= hi for lo, hi in windows):
                continue
            d = p.get("durationMs", {})
            triggers.append(d.get("triggerExecution", 0))
            wal += d.get("walCommit", 0) + d.get("commitOffsets", 0)
            for op in p.get("stateOperators", []):
                commit += op.get("commitTimeMs", 0)
                rows += op.get("numRowsUpdated", 0)
        return {
            "streaming.batches": len(triggers),
            "streaming.trigger_ms_p50":
                statistics.median(triggers) if triggers else 0.0,
            "streaming.wal_ms": wal,
            "streaming.state_commit_ms": commit,
            "streaming.state_rows": rows,
        }


# Metrics that are not summed over passes, so not divided by them.
_RATIOS = {"scheduler.utilization", "streaming.trigger_ms_p50"}


def _iso_epoch(ts: str | None) -> float | None:
    """Epoch seconds of a progress ``timestamp`` like
    ``2024-01-01T00:00:00.123Z``."""
    if not ts:
        return None
    from datetime import datetime, timezone  # noqa: PLC0415

    return datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
