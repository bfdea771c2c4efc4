"""Measurement helpers shared by the workloads: percentiles, the
latency matcher, output checks against the batch reference, peak
memory, and process clean-up."""

from __future__ import annotations

import json
import os
import signal
import threading
import time

import numpy as np

from perfbench.chunks import CHUNK_MS


def pct(values, q: float) -> float:
    """Linear-interpolated percentile; 0.0 for no samples."""
    return float(np.percentile(np.asarray(values, dtype=float), q)) if len(values) else 0.0


# ---------------------------------------------------------------------------
# segments: delivered vs reference, and their latency
# ---------------------------------------------------------------------------

def read_results(rdir: str) -> tuple[list[dict], int]:
    """Delivered segments from a result-store directory, each with the
    result file's mtime (the sink renames the file into place, so the
    mtime is when the result became visible), plus the number of rows
    the committed micro-batches reported writing."""
    segs = []
    for fn in os.listdir(rdir):
        if not (fn.startswith("result-") and fn.endswith(".json")):
            continue
        path = os.path.join(rdir, fn)
        with open(path) as f:
            doc = json.load(f)
        p = json.loads(doc["payload"]["payload"])
        segs.append({
            "session_id": doc["job_id"].rsplit("_", 1)[0],
            "segment_idx": p["segment_idx"],
            "start_offset_ms": p["start_offset_ms"],
            "end_offset_ms": p["end_offset_ms"],
            "n_samples": p["n_samples"],
            "trigger": p["trigger"],
            "written": os.stat(path).st_mtime_ns / 1e9,
        })
    n_written = 0
    cdir = os.path.join(rdir, "_commits")
    if os.path.isdir(cdir):
        for fn in os.listdir(cdir):
            with open(os.path.join(cdir, fn)) as f:
                n_written += json.load(f)["n_written"]
    return segs, n_written


def reference_segments(chunks: list[dict]) -> list[dict]:
    """``sessionize_batch``'s group function applied per session to the
    logged chunks, single-threaded in this process."""
    import pandas as pd

    from streamprocess_spark.streaming.sessionizer import (
        DEFAULT_CONFIG,
        sessionize_batch_fn,
    )

    fn = sessionize_batch_fn(DEFAULT_CONFIG)
    by_sid: dict[str, list[dict]] = {}
    for c in chunks:
        by_sid.setdefault(c["session_id"], []).append(c)
    out = []
    for sid, rows in by_sid.items():
        pdf = pd.DataFrame(rows, columns=["seq", "offset_ms", "is_final", "samples"])
        out.extend(fn((sid,), pdf).to_dict("records"))
    return out


_KEY_FIELDS = ("start_offset_ms", "end_offset_ms", "n_samples", "trigger")


def check_segments(delivered: list[dict], n_written: int,
                   reference: list[dict]) -> tuple[int, int]:
    """Compare delivered segments with the reference on session, index,
    offsets, sample count and trigger. Returns ``(attempted, failed)``:
    every reference segment is attempted; one fails if it is missing or
    differs, and every extra or re-written delivery also counts."""
    ref = {(r["session_id"], int(r["segment_idx"])):
           tuple(r[k] for k in _KEY_FIELDS) for r in reference}
    got: dict[tuple, tuple] = {}
    failed = 0
    for s in delivered:
        key = (s["session_id"], int(s["segment_idx"]))
        if key in got:
            failed += 1
        got[key] = tuple(s[k] for k in _KEY_FIELDS)
    for key, val in ref.items():
        if got.get(key) != val:
            failed += 1
    failed += sum(1 for key in got if key not in ref)
    failed += max(0, n_written - len(delivered))
    return len(ref), failed


def segment_latencies(delivered: list[dict], due_of: dict) -> tuple[list, list, int]:
    """Latency of every delivered segment: from the due time of the
    chunk that closed it (the chunk at ``end_offset_ms - chunk_ms`` of
    the same session) to the result's write time.

    ``due_of`` maps ``(session_id, offset_ms)`` to ``(due, is_final)``.
    Returns ``(all_ms, final_ms, unmatched)`` as lists of
    ``(due, latency_ms)``; a final segment whose closing chunk is not
    the session's ``is_final`` chunk counts as unmatched."""
    all_ms, final_ms, unmatched = [], [], 0
    for s in delivered:
        hit = due_of.get((s["session_id"], s["end_offset_ms"] - CHUNK_MS))
        if hit is None or (s["trigger"] == "final") != hit[1]:
            unmatched += 1
            continue
        lat = (hit[0], (s["written"] - hit[0]) * 1000.0)
        all_ms.append(lat)
        if s["trigger"] == "final":
            final_ms.append(lat)
    return all_ms, final_ms, unmatched


# ---------------------------------------------------------------------------
# processes: peak memory and clean-up
# ---------------------------------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(root: int | None = None) -> list[int]:
    kids = _children_map()
    out, todo = [], [root or os.getpid()]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _pss_kb(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/smaps_rollup") as f:
            for line in f:
                if line.startswith("Pss:"):
                    return int(line.split()[1])
    except OSError:
        pass
    return 0


class MemorySampler:
    """Samples, every ``period_s``, the proportional set size (PSS) summed
    over this process and every descendant (the JVM, its Python workers,
    the load generator). PSS splits pages shared after fork among the
    processes sharing them, so forked Python workers add only the memory
    they own."""

    def __init__(self, period_s: float = 0.5):
        self.period_s = period_s
        self.samples: list[tuple[float, dict[int, int]]] = []   # (epoch s, {pid: kB})
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def sample(self) -> None:
        self.samples.append(
            (time.time(), {p: _pss_kb(p) for p in [os.getpid(), *descendants()]}))

    def _loop(self) -> None:
        while not self._stop.wait(self.period_s):
            self.sample()

    def start(self) -> "MemorySampler":
        self.sample()
        self._thread.start()
        return self

    def stop(self) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()

    def mb(self, t0: float, t1: float, without: int | None = None) -> tuple[float, float]:
        """Median and peak, in MB, over the samples taken in ``[t0, t1]``,
        of the PSS summed over the processes other than ``without``."""
        sums = [sum(kb for pid, kb in pss.items() if pid != without)
                for t, pss in self.samples if t0 <= t <= t1]
        if not sums:
            sums = [sum(kb for pid, kb in self.samples[-1][1].items() if pid != without)]
        return pct(sums, 50) / 1024.0, max(sums) / 1024.0


def reap_descendants(timeout_s: float = 20.0) -> None:
    """SIGTERM every process this one started (transitively), wait for
    them to exit, then SIGKILL whatever is left."""
    deadline = time.time() + timeout_s
    for sig in (signal.SIGTERM, signal.SIGKILL):
        pids = descendants()
        for pid in pids:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        while pids and time.time() < deadline:
            for pid in pids:
                try:
                    os.waitpid(pid, os.WNOHANG)
                except ChildProcessError:
                    pass
            pids = [p for p in pids if os.path.exists(f"/proc/{p}")
                    and not _is_zombie(p)]
            time.sleep(0.05)
        if not pids:
            return
        deadline = time.time() + 5.0


def _is_zombie(pid: int) -> bool:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] == "Z"
    except OSError:
        return True
