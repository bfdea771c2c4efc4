"""Deterministic audio-chunk workloads and their queue-log encoding.

Every chunk is one job envelope in the priority-queue log format that
``streamprocess_spark.io.queue_source`` reads (one JSON object per line,
``<dir>/<priority>.jsonl``, keys sorted as ``enqueue_job`` writes them).
The ``enqueued_at`` field carries the chunk's *due* time: the moment the
open-loop schedule says the chunk exists, which is what latency is
measured from.

Speech chunks are a 5-cycle sine at one of 16 amplitudes; silent chunks
are zeros and come in runs of 3-4 chunks (300-400 ms), so the
sessionizer's 300 ms VAD endpoint fires inside sessions.
"""

from __future__ import annotations

import json
import math
import os
from dataclasses import dataclass

import numpy as np

CHUNK_MS = 100          # sessionizer DEFAULT_CONFIG.chunk_ms
CHUNK_SAMPLES = 160     # sessionizer DEFAULT_CONFIG.chunk_samples
PRIORITIES = ("realtime", "high", "normal", "low")  # queue_source.PRIORITIES

_AMPS = [round(0.05 + 0.03 * i, 3) for i in range(16)]
_WAVES = [
    [round(a * math.sin(2.0 * math.pi * 5.0 * i / CHUNK_SAMPLES), 4)
     for i in range(CHUNK_SAMPLES)]
    for a in _AMPS
]
_SILENCE = [0.0] * CHUNK_SAMPLES
SILENT = -1  # amplitude index of a silent chunk


@dataclass(frozen=True)
class Chunk:
    session_id: str
    seq: int
    is_final: bool
    amp: int            # index into _AMPS, or SILENT
    due: float          # epoch seconds the chunk is due

    @property
    def offset_ms(self) -> int:
        return self.seq * CHUNK_MS

    @property
    def priority(self) -> str:
        return PRIORITIES[int(self.session_id[1:]) % 4]

    def line(self) -> str:
        job = {
            "job_id": f"{self.session_id}-{self.seq}",
            "type": "stt_chunk",
            "enqueued_at": self.due,
            "payload": {
                "seq": self.seq,
                "offset_ms": self.offset_ms,
                "is_final": self.is_final,
                "samples": _SILENCE if self.amp == SILENT else _WAVES[self.amp],
            },
        }
        return json.dumps(job, sort_keys=True) + "\n"


def amplitude_plan(rng: np.random.Generator, n_chunks: int) -> list[int]:
    """Per-chunk amplitude indexes for one session: speech runs of mean
    ~18 chunks separated by 3-4 silent chunks (~15% silent overall).
    The first chunk is always speech."""
    plan: list[int] = []
    while len(plan) < n_chunks:
        speech = 1 + int(rng.geometric(1 / 18))
        plan.extend(int(a) for a in rng.integers(0, len(_AMPS), speech))
        plan.extend([SILENT] * int(rng.integers(3, 5)))
    return plan[:n_chunks]


class ServeSchedule:
    """Open-loop schedule of ``n_live`` concurrent sessions, one chunk
    per live session per tick. Session lengths are uniform over
    ``min_chunks..max_chunks``; a session that sends its final chunk is
    replaced by a new one on the next tick. The sessions live at the
    start stand for sessions already under way: each gets a uniform
    share (at least 2 chunks) of such a length, so session ends are
    spread out from the first tick rather than bunched 3-8 s in.
    Deterministic for a seed."""

    def __init__(self, seed: int, n_live: int, min_chunks: int = 30,
                 max_chunks: int = 80, prefix: str = "s"):
        self.rng = np.random.default_rng(seed)
        self.prefix = prefix
        self.min_chunks, self.max_chunks = min_chunks, max_chunks
        self.next_id = 0
        self.live = [self._new_session(under_way=True) for _ in range(n_live)]

    def _new_session(self, under_way: bool = False) -> list:
        n = int(self.rng.integers(self.min_chunks, self.max_chunks + 1))
        if under_way:
            n = int(self.rng.integers(2, n + 1))
        sid = f"{self.prefix}{self.next_id}"
        self.next_id += 1
        return [sid, 0, amplitude_plan(self.rng, n)]

    def tick(self, due: float) -> list[Chunk]:
        out = []
        for slot, (sid, seq, plan) in enumerate(self.live):
            final = seq == len(plan) - 1
            out.append(Chunk(sid, seq, final, plan[seq], due))
            self.live[slot] = self._new_session() if final else [sid, seq + 1, plan]
        return out

    def close(self, due: float) -> list[Chunk]:
        """Wind-down tick: every live session sends its final chunk."""
        out = [Chunk(sid, seq, True, plan[seq], due) for sid, seq, plan in self.live]
        self.live = []
        return out


def append_chunks(qdir: str, chunks: list[Chunk]) -> int:
    """Append the chunks' envelopes to the per-priority logs, one write
    per priority file. Returns the number of lines written."""
    by_prio: dict[str, list[str]] = {}
    for c in chunks:
        by_prio.setdefault(c.priority, []).append(c.line())
    os.makedirs(qdir, exist_ok=True)
    for prio, lines in by_prio.items():
        with open(os.path.join(qdir, f"{prio}.jsonl"), "a") as f:
            f.write("".join(lines))
    return len(chunks)


def read_logged_chunks(qdir: str) -> list[dict]:
    """Every envelope in the logs, decoded: the exact chunks the
    streaming query was offered."""
    out = []
    for prio in PRIORITIES:
        path = os.path.join(qdir, f"{prio}.jsonl")
        if not os.path.exists(path):
            continue
        with open(path) as f:
            for line in f:
                job = json.loads(line)
                p = job["payload"]
                out.append({
                    "session_id": job["job_id"].split("-")[0],
                    "seq": p["seq"],
                    "offset_ms": p["offset_ms"],
                    "is_final": p["is_final"],
                    "samples": p["samples"],
                    "due": job["enqueued_at"],
                })
    return out
