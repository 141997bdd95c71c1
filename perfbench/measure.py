"""Measurement helpers the untraced and traced runs share: the process's
start time, a peak-memory sampler over this process's tree, and a
streaming progress listener that keeps every progress event."""

from __future__ import annotations

import datetime as dt
import json
import os
import threading
import time
import urllib.request

from pyspark.sql.streaming import StreamingQueryListener

_CLK_TCK = os.sysconf("SC_CLK_TCK")
_PAGE = os.sysconf("SC_PAGE_SIZE")


def process_start_wall() -> float:
    """Wall-clock time at which this process started, from /proc."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return time.time() - uptime + start_ticks / _CLK_TCK


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        kids.setdefault(ppid, []).append(int(name))
    return kids


def tree_pids(root: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [root]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, ()))
    return out


def _resident_bytes(pid: int) -> int:
    """RSS for the JVM, PSS for everything else.  Forked Python workers
    share pages with the daemon they came from, which RSS would count
    once per process; PSS splits them.  The JVM shares nothing worth
    splitting, and walking its multi-GB page tables for PSS every sample
    slows it measurably, so it is read from statm."""
    with open(f"/proc/{pid}/comm") as f:
        is_jvm = f.read().strip() == "java"
    if is_jvm:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * _PAGE
    with open(f"/proc/{pid}/smaps_rollup") as f:
        for line in f:
            if line.startswith("Pss:"):
                return int(line.split()[1]) * 1024
    return 0


def tree_resident_bytes(root: int) -> int:
    total = 0
    for p in tree_pids(root):
        try:
            total += _resident_bytes(p)
        except (OSError, IndexError, ValueError):
            continue
    return total


class PeakRss:
    """Samples the resident memory of this process and its descendants
    (the Spark JVM, the PySpark daemon and its Python workers) and keeps
    the highest total seen: the peak memory the run held at one time."""

    def __init__(self, interval_s: float = 0.2):
        self.interval_s = interval_s
        self.peak_bytes = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, name="peak-rss", daemon=True)

    def _run(self) -> None:
        me = os.getpid()
        while not self._stop.is_set():
            self.peak_bytes = max(self.peak_bytes, tree_resident_bytes(me))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()


class ProgressLog(StreamingQueryListener):
    """Keeps every query start, progress and termination event.

    Progress rows carry the full ``durationMs`` phase map.  Events arrive
    on Spark's listener bus asynchronously, in order; ``settle`` waits
    until every started query has reported its termination."""

    def __init__(self):
        self._lock = threading.Lock()
        self.started: set[str] = set()
        self.terminated: set[str] = set()
        self.progress: list[dict] = []
        self._last_event = time.monotonic()

    def onQueryStarted(self, event) -> None:  # noqa: N802
        with self._lock:
            self.started.add(str(event.id))
            self._last_event = time.monotonic()

    def onQueryProgress(self, event) -> None:  # noqa: N802
        p = event.progress
        row = {
            "query_id": str(p.id),
            "run_id": str(p.runId),
            "batch_id": p.batchId,
            "timestamp": p.timestamp,
            "num_input_rows": p.numInputRows,
            "duration_ms": dict(p.durationMs or {}),
        }
        with self._lock:
            self.progress.append(row)
            self._last_event = time.monotonic()

    def onQueryIdle(self, event) -> None:  # noqa: N802
        pass

    def onQueryTerminated(self, event) -> None:  # noqa: N802
        with self._lock:
            self.terminated.add(str(event.id))
            self._last_event = time.monotonic()

    def settle(self, quiet_s: float = 0.3, timeout_s: float = 30.0) -> None:
        deadline = time.monotonic() + timeout_s
        while time.monotonic() < deadline:
            with self._lock:
                done = self.started <= self.terminated
                quiet = time.monotonic() - self._last_event >= quiet_s
            if done and quiet:
                return
            time.sleep(0.05)
        raise TimeoutError("streaming progress events did not settle")

    def mark(self) -> int:
        """Position in the progress log, to select the events of one phase."""
        with self._lock:
            return len(self.progress)

    def since(self, mark: int) -> list[dict]:
        with self._lock:
            return self.progress[mark:]



def iso_seconds(ts: str) -> float:
    """Seconds since the epoch from a progress-event or REST timestamp."""
    ts = ts.replace("GMT", "+0000").replace("Z", "+0000")
    return dt.datetime.strptime(ts, "%Y-%m-%dT%H:%M:%S.%f%z").timestamp()


def spark_rest(spark, path: str):
    """GET one endpoint of the running application's UI REST API."""
    sc = spark.sparkContext
    url = f"{sc.uiWebUrl.rstrip('/')}/api/v1/applications/{sc.applicationId}/{path}"
    with urllib.request.urlopen(url, timeout=60) as r:
        return json.load(r)


def spark_jobs(spark, t0: float, t1: float) -> list[dict]:
    """Completed Spark jobs submitted between t0 and t1 (epoch seconds)."""
    return [
        j
        for j in spark_rest(spark, "jobs")
        if "completionTime" in j and t0 <= iso_seconds(j["submissionTime"]) <= t1
    ]


def spark_job_ms(spark, t0: float, t1: float) -> list[float]:
    """Durations of the Spark jobs submitted between t0 and t1."""
    return [
        1000 * (iso_seconds(j["completionTime"]) - iso_seconds(j["submissionTime"])) for j in spark_jobs(spark, t0, t1)
    ]
