"""Instruments the benchmark reads from outside the engine.

- ``Tracer``: spans (name, start, end, parent, run id) kept in memory.
- ``ProgressLog``: Spark's public ``StreamingQueryListener`` progress.
- ``StateWatch`` and friends: the state directory on disk (version
  dirs, bucket manifests, parquet footers).
- ``eventlog_metrics``: task metrics from an uncompressed Spark event log.
- ``peak_rss_mb`` / ``stop_jvm``: the process pair a session consists of.
"""

from __future__ import annotations

import contextlib
import json
import os
import re
import resource
import subprocess
import threading
import time
from collections.abc import Iterator
from datetime import datetime

from pyspark.sql.streaming import StreamingQueryListener

_VERSION_DIR = re.compile(r"v(\d+)")


class Tracer:
    """In-memory spans; a disabled tracer records nothing."""

    def __init__(self, enabled: bool, run_id: str) -> None:
        self.enabled = enabled
        self.run_id = run_id
        self.spans: list[dict] = []
        self._stack: list[int] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs) -> Iterator[dict | None]:
        """Yields the span record (None when disabled)."""
        if not self.enabled:
            yield None
            return
        rec = self._open(name, time.time(), attrs)
        self._stack.append(rec["id"])
        try:
            yield rec
        finally:
            self._stack.pop()
            rec["end"] = time.time()

    def add(self, name: str, start: float, end: float, parent: int | None = None, **attrs) -> None:
        """A span whose interval was measured elsewhere (e.g. a trigger
        reported by the streaming listener), under ``parent`` or else
        the open span."""
        if self.enabled:
            self._open(name, start, attrs, parent)["end"] = end

    def _open(self, name: str, start: float, attrs: dict, parent: int | None = None) -> dict:
        if parent is None and self._stack:
            parent = self._stack[-1]
        rec = {
            "id": len(self.spans),
            "name": name,
            "start": start,
            "end": None,
            "parent": parent,
            "run": self.run_id,
            **attrs,
        }
        self.spans.append(rec)
        return rec


class ProgressLog(StreamingQueryListener):
    """Collects every query's progress reports."""

    def __init__(self) -> None:
        self.progress: list[dict] = []
        self._cv = threading.Condition()

    def onQueryStarted(self, event) -> None:
        pass

    def onQueryProgress(self, event) -> None:
        p = event.progress
        rec = {
            "query": str(p.id),
            "batch": p.batchId,
            "start": progress_start_s(p.timestamp),
            "rows": p.numInputRows,
            "ms": dict(p.durationMs),
        }
        with self._cv:
            self.progress.append(rec)
            self._cv.notify_all()

    def onQueryIdle(self, event) -> None:
        pass

    def onQueryTerminated(self, event) -> None:
        pass

    def wait_rows(self, since: float, rows: int, timeout: float = 60.0) -> list[dict]:
        """Reports of triggers started at or after ``since`` (epoch
        seconds), once they account for ``rows`` input rows — listener
        delivery is asynchronous."""

        def mine() -> list[dict]:
            return [p for p in self.progress if p["rows"] > 0 and p["start"] >= since]

        with self._cv:
            if not self._cv.wait_for(lambda: sum(p["rows"] for p in mine()) >= rows, timeout):
                raise TimeoutError(f"listener reports short of {rows} input rows")
            return mine()


def progress_start_s(timestamp: str) -> float:
    """Epoch seconds of a progress report's ISO-8601 trigger start."""
    return datetime.fromisoformat(timestamp.replace("Z", "+00:00")).timestamp()


# ------------------------------------------------------------ state dir


def _parquet_files(root: str) -> list[str]:
    out = []
    for dirpath, _, names in os.walk(root):
        out.extend(os.path.join(dirpath, n) for n in names if n.endswith(".parquet"))
    return out


def _current(state_dir: str) -> int | None:
    try:
        with open(os.path.join(state_dir, "_CURRENT")) as f:
            return int(f.read().strip())
    except (OSError, ValueError):
        return None


def _manifest(state_dir: str, version: int) -> dict | None:
    try:
        with open(os.path.join(state_dir, f"v{version}", "_MANIFEST.json")) as f:
            return json.load(f)
    except (OSError, ValueError):
        return None


def version_dirs(state_dir: str) -> list[int]:
    try:
        names = os.listdir(state_dir)
    except OSError:
        return []
    return sorted(int(m.group(1)) for n in names if (m := _VERSION_DIR.fullmatch(n)))


class StateWatch:
    """Records each published state version once: bytes and rows
    written (parquet footers) and buckets it holds."""

    def __init__(self, state_dirs: list[str]) -> None:
        self.state_dirs = state_dirs
        self.versions: dict[tuple[str, int], dict] = {}
        self._lock = threading.Lock()

    def skip_existing(self) -> None:
        """Treat every version on disk now as already seen."""
        with self._lock:
            for d in self.state_dirs:
                for v in version_dirs(d):
                    self.versions[(d, v)] = None

    def written(self) -> list[dict]:
        return [v for v in self.versions.values() if v is not None]

    def scan(self) -> None:
        import pyarrow.parquet as pq

        with self._lock:
            for d in self.state_dirs:
                cur = _current(d)
                for v in version_dirs(d):
                    if cur is None or v > cur or (d, v) in self.versions:
                        continue
                    vdir = os.path.join(d, f"v{v}")
                    files = _parquet_files(vdir)
                    try:
                        rows = sum(pq.read_metadata(f).num_rows for f in files)
                        size = sum(os.path.getsize(f) for f in files)
                    except OSError:
                        continue  # pruned while we looked
                    buckets = sum(1 for n in os.listdir(vdir) if n.startswith("bkt="))
                    self.versions[(d, v)] = {"rows": rows, "bytes": size, "buckets": buckets}


def files_per_read(state_dir: str) -> int:
    """Parquet files a full ``read_state`` of the current version scans."""
    cur = _current(state_dir)
    if cur is None:
        return 0
    man = _manifest(state_dir, cur)
    if man is None:
        return len(_parquet_files(os.path.join(state_dir, f"v{cur}")))
    return sum(
        len(_parquet_files(os.path.join(state_dir, f"v{ver}", f"bkt={b}")))
        for b, ver in man["buckets"].items()
    )


def dir_mb(root: str) -> float:
    total = 0
    for dirpath, _, names in os.walk(root):
        for n in names:
            with contextlib.suppress(OSError):
                total += os.path.getsize(os.path.join(dirpath, n))
    return total / 1e6


# ------------------------------------------------------------ event log


def eventlog_metrics(log_dir: str, windows: list[tuple[float, float]], ops: int, cores: int) -> dict:
    """Per-operation Spark work for the jobs submitted inside one of
    ``windows`` (epoch-second intervals of the measured operations, so
    set-up, reads between commits and checks are left out), from every
    event log under ``log_dir``."""
    ms_windows = [(t0 * 1000, t1 * 1000) for t0, t1 in windows]
    jobs, stage_of_job, tasks = 0, set(), []
    files = [os.path.join(d, n) for d, _, names in os.walk(log_dir) for n in names]
    for path in sorted(files):  # Spark 4 writes rolling logs in a directory per app
        with open(path) as f:
            for line in f:
                if not line.startswith("{"):
                    continue
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerJobStart":
                    if any(t0 <= ev["Submission Time"] <= t1 for t0, t1 in ms_windows):
                        jobs += 1
                        stage_of_job.update(ev["Stage IDs"])
                elif kind == "SparkListenerTaskEnd":
                    tasks.append((ev["Stage ID"], ev.get("Task Metrics") or {}))
    mine = [m for s, m in tasks if s in stage_of_job]
    run_ms = sum(m.get("Executor Run Time", 0) for m in mine)
    shuffle = sum(
        (m.get("Shuffle Write Metrics") or {}).get("Shuffle Bytes Written", 0) for m in mine
    )
    ops = max(ops, 1)
    return {
        "spark.jobs_per_batch": jobs / ops,
        "spark.tasks_per_batch": len(mine) / ops,
        "spark.shuffle_mb_per_batch": shuffle / 1e6 / ops,
        "spark.spill_mb": sum(m.get("Disk Bytes Spilled", 0) for m in mine) / 1e6,
        "spark.gc_ms": float(sum(m.get("JVM GC Time", 0) for m in mine)),
        "spark.busy_frac": run_ms / max(sum(t1 - t0 for t0, t1 in ms_windows) * cores, 1e-9),
    }


# ------------------------------------------------------------ processes


def _jvm_pid(spark) -> int:
    return int(spark.sparkContext._jvm.java.lang.ProcessHandle.current().pid())


def peak_rss_mb(spark) -> float:
    """Peak resident memory of this Python process plus its driver JVM."""
    py_kb = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    jvm_kb = 0
    with open(f"/proc/{_jvm_pid(spark)}/status") as f:
        for line in f:
            if line.startswith("VmHWM:"):
                jvm_kb = int(line.split()[1])
    return (py_kb + jvm_kb) / 1024


def stop_jvm(spark) -> None:
    """Stop the session, then the gateway JVM, and wait for it to exit."""
    from pyspark import SparkContext

    spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is None:
        return
    proc.stdin.close()  # the gateway JVM exits when its stdin closes
    try:
        proc.wait(timeout=30)
    except subprocess.TimeoutExpired:
        proc.kill()
        proc.wait()
    SparkContext._gateway = None
    SparkContext._jvm = None
