"""Tracing for the benchmark's traced run, all from outside the program.

- :class:`Tracer` wraps public functions and plugin methods at run time
  and records one span per call: name, start, end, parent span and the
  pipeline run it belongs to. Spans stay in memory until :meth:`dump`.
- :class:`SparkStatus` reads Spark's own status store (the REST view of
  the UI's AppStatusStore) for the jobs of one run's job group.
- :class:`StreamProgress` is a ``StreamingQueryListener`` the benchmark
  registers on the session; it keeps every micro-batch progress report.
- :func:`tree_peak_rss_mb` reads peak RSS of the process tree from /proc.
"""

from __future__ import annotations

import json
import os
import time
import urllib.request
from contextlib import contextmanager
from datetime import datetime
from pathlib import Path

from pyspark.sql.streaming import StreamingQueryListener

from procs import children_map


class Tracer:
    """In-memory span recorder; single-threaded, like the pipeline driver."""

    def __init__(self) -> None:
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self.run_id: str | None = None

    @contextmanager
    def span(self, name: str):
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run": self.run_id,
            "start": time.perf_counter(),
            "end": None,
        }
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield rec
        finally:
            rec["end"] = time.perf_counter()
            self._stack.pop()

    def wrap(self, name: str, fn):
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        traced.__wrapped__ = fn
        return traced

    def patch(self, owner, attr: str, name: str) -> None:
        """Replace ``owner.attr`` by a traced wrapper of itself."""
        setattr(owner, attr, self.wrap(name, getattr(owner, attr)))

    def self_times(self) -> dict[int, float]:
        """Span id -> duration minus the time its child spans cover.

        Children of one span never overlap (one thread), so the covered
        time is the sum of their durations.
        """
        own = {s["id"]: s["end"] - s["start"] for s in self.spans}
        for s in self.spans:
            if s["parent"] is not None:
                own[s["parent"]] -= s["end"] - s["start"]
        return own

    def durations(self, name: str, run: str | None = None) -> list[float]:
        return [
            s["end"] - s["start"]
            for s in self.spans
            if s["name"] == name and (run is None or s["run"] == run)
        ]

    def dump(self, path: Path) -> None:
        own = self.self_times()
        path.parent.mkdir(parents=True, exist_ok=True)
        with path.open("w") as f:
            for s in self.spans:
                f.write(json.dumps({**s, "self": own[s["id"]]}) + "\n")


def _ms(text: str | None) -> float:
    # "2026-10-17T04:42:33.668GMT"
    return datetime.strptime(text, "%Y-%m-%dT%H:%M:%S.%f%Z").timestamp() * 1000.0


class SparkStatus:
    """Per-run engine counters from Spark's status store."""

    def __init__(self, spark) -> None:
        self.sc = spark.sparkContext
        if not self.sc.uiWebUrl:
            raise RuntimeError("the traced run needs spark.ui.enabled=true")
        self.base = f"{self.sc.uiWebUrl}/api/v1/applications/{self.sc.applicationId}"

    def _get(self, path: str):
        with urllib.request.urlopen(self.base + path, timeout=30) as r:
            return json.load(r)

    def drain(self) -> None:
        """Wait until the listener bus has delivered every event so far."""
        self.sc._jsc.sc().listenerBus().waitUntilEmpty()

    def cached_bytes(self) -> int:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self._get("/storage/rdd"))

    def run_counters(self, groups: set[str]) -> dict[str, float]:
        """Counters summed over every job of the given job groups (a
        pipeline run's own group, plus one per streaming query run)."""
        self.drain()
        jobs = [j for j in self._get("/jobs") if j.get("jobGroup") in groups]
        ids = {sid for j in jobs for sid in j["stageIds"]}
        stages = [s for s in self._get("/stages") if s["stageId"] in ids and s["status"] == "COMPLETE"]
        return {
            "jobs_n": len(jobs),
            "stages_n": len(stages),
            "tasks_n": sum(s["numTasks"] for s in stages),
            "tasks_failed_n": sum(s["numFailedTasks"] for s in stages),
            "task_run_s": sum(s["executorRunTime"] for s in stages) / 1e3,
            "task_cpu_s": sum(s["executorCpuTime"] for s in stages) / 1e9,
            "gc_s": sum(s["jvmGcTime"] for s in stages) / 1e3,
            "input_bytes": sum(s["inputBytes"] for s in stages),
            "output_rows": sum(s["outputRecords"] for s in stages),
            "output_bytes": sum(s["outputBytes"] for s in stages),
            "shuffle_write_bytes": sum(s["shuffleWriteBytes"] for s in stages),
            "shuffle_read_bytes": sum(s["shuffleReadBytes"] for s in stages),
            "shuffle_fetch_wait_s": sum(s["shuffleFetchWaitTime"] for s in stages) / 1e3,
            "spill_bytes": sum(s["memoryBytesSpilled"] + s["diskBytesSpilled"] for s in stages),
            "serial_stage_s": sum(
                (_ms(s["completionTime"]) - _ms(s["submissionTime"])) / 1e3
                for s in stages
                if s["numTasks"] == 1 and s.get("completionTime") and s.get("submissionTime")
            ),
        }


class StreamProgress(StreamingQueryListener):
    """Keeps every micro-batch progress report of every query."""

    def __init__(self) -> None:
        self.reports: list[dict] = []

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        self.reports.append(json.loads(event.progress.json))

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def take(self) -> list[dict]:
        out, self.reports = self.reports, []
        return out


def stream_counters(reports: list[dict]) -> dict[str, float]:
    """Per-query streaming counters from its progress reports."""
    data = [r for r in reports if r["numInputRows"] > 0]
    ops = [op for r in reports for op in r.get("stateOperators", [])]

    def med(key):
        vals = sorted(r["durationMs"].get(key, 0) / 1e3 for r in data)
        return vals[len(vals) // 2] if vals else 0.0

    return {
        "batches_n": len(data),
        "batch_s": med("triggerExecution"),
        "add_batch_s": med("addBatch"),
        "wal_commit_s": med("walCommit"),
        "state_rows_n": max((sum(o["numRowsTotal"] for o in r.get("stateOperators", [])) for r in reports), default=0),
        "state_bytes": max((sum(o["memoryUsedBytes"] for o in r.get("stateOperators", [])) for r in reports), default=0),
        "late_rows_n": sum(o.get("numRowsDroppedByWatermark", 0) for o in ops),
    }


def tree_peak_rss_mb(root: int | None = None) -> float:
    """Sum of peak RSS (VmHWM) over ``root`` and all its descendants:
    here the Python driver, the Spark JVM and any Python workers."""
    root = os.getpid() if root is None else root
    kids = children_map()
    total_kb, todo = 0, [root]
    while todo:
        pid = todo.pop()
        todo.extend(kids.get(pid, []))
        try:
            with open(f"/proc/{pid}/status") as f:
                for line in f:
                    if line.startswith("VmHWM:"):
                        total_kb += int(line.split()[1])
                        break
        except OSError:
            continue
    return total_kb / 1024.0
