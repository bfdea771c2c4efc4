"""Open-loop load generator, run as its own process.

    python -m perfbench.gen --dir Q --seed N --ticks T --sessions L --summary S.json

Every ``CHUNK_MS`` (100 ms) it appends one chunk per live session to the
queue logs under ``--dir``. The schedule is fixed at start (tick k is due
at ``t0 + k * CHUNK_MS``) and never waits for the consumer: a slow pipeline
sees a growing backlog, not a slower producer. After ``--ticks`` ticks
one wind-down tick sends the final chunk of every live session, so every
session the run started also ends.

The summary file records ``t0`` and, per tick, the due time, the time
the write finished and the cumulative line count. It is first written
with ``t0`` alone, before the first tick, and again in full at the end.
"""

from __future__ import annotations

import argparse
import json
import os
import time

from perfbench.chunks import CHUNK_MS, ServeSchedule, append_chunks


def _write_json(path: str, obj: dict) -> None:
    tmp = f"{path}.tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f)
    os.replace(tmp, path)


def run(qdir: str, seed: int, ticks: int, summary: str, n_live: int) -> None:
    sched = ServeSchedule(seed, n_live=n_live)
    tick_s = CHUNK_MS / 1000.0
    t0 = time.time() + 0.2
    _write_json(summary, {"t0": t0, "tick_s": tick_s, "done": False})
    rows = []
    total = 0
    for k in range(ticks + 1):
        due = t0 + k * tick_s
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        chunks = sched.tick(due) if k < ticks else sched.close(due)
        total += append_chunks(qdir, chunks)
        rows.append([due, time.time(), total])
    _write_json(summary, {"t0": t0, "tick_s": tick_s, "done": True,
                          "ticks": rows, "lines": total})


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--dir", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--ticks", type=int, required=True)
    ap.add_argument("--summary", required=True)
    ap.add_argument("--sessions", type=int, required=True)
    a = ap.parse_args()
    run(a.dir, a.seed, a.ticks, a.summary, a.sessions)


if __name__ == "__main__":
    main()
