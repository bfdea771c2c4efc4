"""Spark-side plumbing: session start and shutdown, the per-trigger
record taken from ``StreamingQueryProgress``, the benchmark's progress
listener, the py4j round-trip counter and event-log task totals."""

from __future__ import annotations

import glob
import json
import os
import threading
import time
from datetime import datetime, timezone


def start_session(eventlog_dir: str | None = None):
    """The product session exactly as shipped (``get_spark()`` defaults).
    Traced runs add the event log, and nothing else."""
    from streamprocess_spark import get_spark

    extra = None
    if eventlog_dir:
        os.makedirs(eventlog_dir, exist_ok=True)
        extra = {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": "file://" + os.path.abspath(eventlog_dir),
            "spark.eventLog.compress": "false",
        }
    spark = get_spark(app_name="perfbench", extra_conf=extra)
    spark.sparkContext.setLogLevel("ERROR")
    return spark


def stop_session(spark) -> None:
    """Stop the session and the JVM behind it, and wait for the JVM."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = None
        SparkContext._jvm = None
    if proc is not None:
        try:
            proc.stdin.close()
        except (AttributeError, OSError):
            pass
        try:
            proc.wait(timeout=30)
        except Exception:
            proc.kill()
            proc.wait(timeout=10)


def jvm_pid() -> int | None:
    from pyspark import SparkContext

    proc = getattr(SparkContext._gateway, "proc", None)
    return proc.pid if proc is not None else None


def jvm_live_mb(spark) -> float:
    """Heap and non-heap memory the JVM holds, read right after a full
    garbage collection. Python's collection first releases the JVM
    objects that only unreachable Python objects still held through
    py4j."""
    import gc

    gc.collect()
    jvm = spark.sparkContext._jvm
    jvm.java.lang.System.gc()
    mx = jvm.java.lang.management.ManagementFactory.getMemoryMXBean()
    return (mx.getHeapMemoryUsage().getUsed()
            + mx.getNonHeapMemoryUsage().getUsed()) / 2.0 ** 20


# ---------------------------------------------------------------------------
# per-trigger record
# ---------------------------------------------------------------------------

_PHASES = ("latestOffset", "queryPlanning", "addBatch", "walCommit", "commitOffsets")


def _offset_sum(off) -> int:
    if off is None:
        return 0
    if isinstance(off, str):
        off = json.loads(off)
    return sum(int(v) for v in off.values())


def trigger_record(progress) -> dict:
    """One trigger from a ``StreamingQueryProgress``: its interval, the
    ``durationMs`` phases, input rows, source offsets and state-store
    commit / size."""
    p = json.loads(progress.json) if hasattr(progress, "json") else progress
    start = datetime.strptime(p["timestamp"], "%Y-%m-%dT%H:%M:%S.%fZ").replace(
        tzinfo=timezone.utc).timestamp()
    dur = p.get("durationMs", {})
    ex = float(dur.get("triggerExecution", 0))
    src = (p.get("sources") or [{}])[0]
    st = p.get("stateOperators") or [{}]
    return {
        "run_id": str(p["runId"]),
        "batch_id": int(p["batchId"]),
        "start": start,
        "end": start + ex / 1000.0,
        "execution_ms": ex,
        "phases": {k: float(dur.get(k, 0)) for k in _PHASES},
        "rows": int(p.get("numInputRows", 0)),
        "end_offset": _offset_sum(src.get("endOffset")),
        "latest_offset": _offset_sum(src.get("latestOffset")),
        "state_commit_ms": float(sum(s.get("commitTimeMs", 0) for s in st)),
        "state_rows_total": int(sum(s.get("numRowsTotal", 0) for s in st)),
        "state_memory_bytes": int(sum(s.get("memoryUsedBytes", 0) for s in st)),
    }


def make_listener():
    """A ``StreamingQueryListener`` that keeps every trigger record."""
    from pyspark.sql.streaming import StreamingQueryListener

    class ProgressRecorder(StreamingQueryListener):
        def __init__(self):
            self.records: list[dict] = []
            self._lock = threading.Lock()

        def onQueryStarted(self, event):  # noqa: N802
            pass

        def onQueryProgress(self, event):  # noqa: N802
            rec = trigger_record(event.progress)
            with self._lock:
                self.records.append(rec)

        def onQueryIdle(self, event):  # noqa: N802
            pass

        def onQueryTerminated(self, event):  # noqa: N802
            pass

        def snapshot(self) -> list[dict]:
            with self._lock:
                return list(self.records)

    return ProgressRecorder()


def wait_offsets(query, total: int, timeout_s: float) -> None:
    """Block until a completed trigger has read every one of ``total``
    lines."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        if query.exception() is not None:
            raise RuntimeError(f"streaming query failed: {query.exception()}")
        lp = query.lastProgress
        if lp is not None and trigger_record(lp)["end_offset"] >= total:
            return
        time.sleep(0.02)
    raise TimeoutError(f"streaming query did not read {total} lines in {timeout_s}s")


# ---------------------------------------------------------------------------
# py4j round trips and event-log task totals
# ---------------------------------------------------------------------------

class Py4jCounter:
    """Counts Python→JVM commands sent through the session's py4j client
    (traced runs only: it shadows ``send_command`` on that client)."""

    def __init__(self, spark):
        self.n = 0
        client = spark.sparkContext._gateway._gateway_client
        orig = client.send_command

        def counting(*args, **kwargs):
            self.n += 1
            return orig(*args, **kwargs)

        client.send_command = counting


def eventlog_totals(eventlog_dir: str, t0: float, t1: float) -> dict:
    """Sum ``SparkListenerTaskEnd`` metrics of tasks that finished in
    ``[t0, t1]`` (epoch seconds), and the wall time of jobs submitted in
    it. Read after the session is stopped, when the log is complete."""
    tot = {"wall_ms": 0.0, "executor_run_ms": 0.0, "executor_cpu_ms": 0.0,
           "gc_ms": 0.0, "shuffle_bytes": 0, "spill_bytes": 0, "tasks": 0}
    lo, hi = t0 * 1000.0, t1 * 1000.0
    jobs: dict[int, float] = {}
    for path in glob.glob(os.path.join(eventlog_dir, "**"), recursive=True):
        if not os.path.isfile(path):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev.get("Event")
                if kind == "SparkListenerTaskEnd":
                    info, m = ev.get("Task Info", {}), ev.get("Task Metrics") or {}
                    if not lo <= info.get("Finish Time", 0) <= hi:
                        continue
                    tot["tasks"] += 1
                    tot["executor_run_ms"] += m.get("Executor Run Time", 0)
                    tot["executor_cpu_ms"] += m.get("Executor CPU Time", 0) / 1e6
                    tot["gc_ms"] += m.get("JVM GC Time", 0)
                    tot["shuffle_bytes"] += (m.get("Shuffle Write Metrics") or {}).get(
                        "Shuffle Bytes Written", 0)
                    tot["spill_bytes"] += (m.get("Memory Bytes Spilled", 0)
                                           + m.get("Disk Bytes Spilled", 0))
                elif kind == "SparkListenerJobStart":
                    if lo <= ev.get("Submission Time", 0) <= hi:
                        jobs[ev["Job ID"]] = ev["Submission Time"]
                elif kind == "SparkListenerJobEnd" and ev.get("Job ID") in jobs:
                    tot["wall_ms"] += ev["Completion Time"] - jobs[ev["Job ID"]]
    return tot
