"""Readers of Spark's own records: job groups through ``statusTracker``,
stage and SQL metrics through the UI's REST API, streaming progress through
a ``StreamingQueryListener``, and the driver heap through py4j.

REST reads and heap reads run between timed steps, never inside one.
"""

from __future__ import annotations

import json
import re
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener


def retained_heap_mb(spark, max_rounds: int = 10, pause_s: float = 0.5) -> float:
    """Driver JVM heap in use after a forced GC, in MB.  Objects a GC
    only hands to a cleanup queue (finalizers, weak-reference queues such as
    Spark's ContextCleaner) are freed in a later GC: the first reading at the
    end of a batch run was sometimes 600 MB against 98 MB a round later.  So
    GC-then-read rounds repeat, ``pause_s`` apart, until the reading stops
    falling; the lowest reading is the value (a late allocation can only
    raise one)."""
    mx = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    low = float("inf")
    for _ in range(max_rounds):
        mx.gc()
        used = mx.getHeapMemoryUsage().getUsed() / 2**20
        if used > low - 1:
            return min(low, used)
        low = used
        time.sleep(pause_s)
    return low


def group_jobs(spark, group: str) -> list[int]:
    return sorted(spark.sparkContext.statusTracker().getJobIdsForGroup(group))


class Rest:
    """The application's ``/api/v1`` endpoints on the local UI port."""

    def __init__(self, spark):
        sc = spark.sparkContext
        self.base = f"{sc.uiWebUrl}/api/v1/applications/{sc.applicationId}"

    def get(self, path: str):
        with urllib.request.urlopen(f"{self.base}/{path}", timeout=30) as r:
            return json.load(r)

    def jobs(self) -> list[dict]:
        return self.get("jobs")

    def stages(self) -> dict[int, dict]:
        """Latest attempt of every stage, by stage id."""
        out: dict[int, dict] = {}
        for s in self.get("stages"):
            cur = out.get(s["stageId"])
            if cur is None or s["attemptId"] > cur["attemptId"]:
                out[s["stageId"]] = s
        return out

    def task_quantiles(self, stage: dict) -> tuple[float, float] | None:
        """(median, max) task executor run time of a stage, in ms."""
        if stage.get("numCompleteTasks", 0) < 2:
            return None
        q = self.get(f"stages/{stage['stageId']}/{stage['attemptId']}/taskSummary?quantiles=0.5,1.0")
        med, mx = q["executorRunTime"]
        return med, mx

    def sql(self) -> list[dict]:
        return self.get("sql?details=true&planDescription=false&offset=0&length=100000")

    def storage_mb(self) -> float:
        return sum(r.get("memoryUsed", 0) + r.get("diskUsed", 0) for r in self.get("storage/rdd")) / 2**20


_UNITS = {
    "ms": 1e-3, "s": 1.0, "m": 60.0, "min": 60.0, "h": 3600.0,
    "B": 1.0, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40,
}
_VALUE = re.compile(r"(-?[\d.,]+)\s*([A-Za-z]+)?")


def parse_metric(text: str) -> float:
    """SQL-metric display value -> seconds (times), bytes (sizes) or the
    plain number.  Aggregated metrics read ``total (min, med, max ...)\\n
    <total> (<min>, ...)``; the total comes first on the second line."""
    line = text.split("\n")[-1] if "\n" in text else text
    m = _VALUE.search(line)
    if m is None:
        return 0.0
    value = float(m.group(1).replace(",", ""))
    return value * _UNITS.get(m.group(2) or "", 1.0)


class ProgressLog(StreamingQueryListener):
    """Collects every microbatch progress record and query lifecycle event
    as plain Python values."""

    def __init__(self):
        self.lock = threading.Lock()
        self.progress: list[dict] = []
        self.started: set[str] = set()
        self.terminated: set[str] = set()

    def onQueryStarted(self, event):
        with self.lock:
            self.started.add(str(event.runId))

    def onQueryProgress(self, event):
        p = event.progress
        record = {
            "run": str(p.runId),
            "batch": p.batchId,
            "rows": p.numInputRows,
            "duration_ms": dict(p.durationMs),
            "state": [
                {
                    "rows_total": s.numRowsTotal,
                    "rows_updated": s.numRowsUpdated,
                    "memory_bytes": s.memoryUsedBytes,
                    "update_ms": s.allUpdatesTimeMs,
                    "commit_ms": s.commitTimeMs,
                }
                for s in p.stateOperators
            ],
            "timestamp": p.timestamp,
        }
        with self.lock:
            self.progress.append(record)

    def onQueryIdle(self, event):
        pass

    def onQueryTerminated(self, event):
        with self.lock:
            self.terminated.add(str(event.runId))

    def mark(self) -> int:
        with self.lock:
            return len(self.progress)

    def since(self, mark: int, timeout: float = 30.0) -> list[dict]:
        """Progress records after ``mark``, once every query started so far
        has reported its termination (events arrive on the listener bus
        after the drain returns)."""
        deadline = time.time() + timeout
        while True:
            with self.lock:
                done = self.started <= self.terminated
                if done or time.time() > deadline:
                    return list(self.progress[mark:])
            time.sleep(0.02)
