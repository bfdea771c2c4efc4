"""Priority-queue data source — the reference's Redis Streams consumer
(SURVEY §2.1 S7) as a first-class Spark data source via the Python
DataSource API (Spark 4).

Reference semantics reproduced (src/queue/redis_queue.py):
  - four append-only priority streams keyed realtime/high/normal/low
    (`redis_queue.py:42-47`) → four partition logs under one path,
    `<path>/<priority>.jsonl`, one job envelope per line
    (`add_job` serialization, `redis_queue.py:109-130`);
  - `XREADGROUP` consumption with consumer-group offsets
    (`redis_queue.py:147-224`) → streaming offsets = per-priority line
    counts, tracked by Spark's checkpoint: each micro-batch reads
    exactly the lines between the last committed and the latest
    offset — at-least-once delivery upgraded to exactly-once by the
    engine (SURVEY §2.11);
  - `XACK` (`redis_queue.py:254-276`) → `commit(offset)` callback;
  - priority-descending drain (`redis_queue.py:157-224`) → every batch
    carries the `priority` + `prio_rank` columns; batch-local
    `ORDER BY prio_rank` is the R2 scheduling contract (the source
    also lists realtime partitions first).

The log files are plain JSONL so the source is hermetic — no external
broker in tests; swapping the per-priority file tails for real Redis
`XRANGE` calls changes only `_read_lines`.

Both readers yield pyarrow RecordBatches of `_row` tuples: one
(de)serialization per `_ARROW_CHUNK` rows instead of one pickled tuple
per row. `_row` stays the row-shape contract.
"""

from __future__ import annotations

import io
import json
import os
from typing import NamedTuple

from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    InputPartition,
)

PRIORITIES = ("realtime", "high", "normal", "low")  # drain order (R2)
PRIO_RANK = {p: i for i, p in enumerate(PRIORITIES)}

SCHEMA = (
    "priority string, prio_rank int, seq bigint, job_id string, "
    "type string, enqueued_at double, payload string"
)


def _log_path(path: str, priority: str) -> str:
    return os.path.join(path, f"{priority}.jsonl")


# block size of the planner's log scan: the file is never slurped whole;
# the scan holds one block at a time and keeps only the every-
# READ_PARTITION_LINES-th line byte index, so multi-GB backlogs plan
# without ever materializing the log
_SCAN_BLOCK = 1 << 20

# lines per INPUT PARTITION. Each priority's range is cut on a global
# grid of this many lines, so a deep backlog fans out across the
# cluster (one partition per priority capped the flagship even leg's
# scan at 4 tasks of 2.1 s while 28 cores idled), and each piece's task
# seeks to its grid line's byte offset instead of line-skipping the
# file prefix (O(L) reads per L-line backlog, not O(L²/grid)).
# Consecutive pieces, in realtime→low order, are then packed into one
# partition while their total stays within the same budget: a serve_20
# trigger of ~120 lines over four priorities is one read task, not
# four, each of which cost ~57 ms of task launch and shuffle output for
# ~10 ms of Python. A broker-backed variant would map each piece to an
# XRANGE cursor.
READ_PARTITION_LINES = 512


def _scan_tail(path: str, n: int, pos: int,
               index: dict[int, int]) -> tuple[int, int]:
    """Continue a scan that has counted ``n`` lines ending at byte
    ``pos`` (the byte after the last counted newline): count the
    newline-terminated lines after ``pos``, record the start of every
    READ_PARTITION_LINES-th line in ``index``, and return the new
    ``(n, pos)``. Only newline-TERMINATED lines count: a producer may be
    mid-append, and a torn partial line must not become an offset (the
    XADD analog is atomic); the next call re-reads it. A log shorter
    than ``pos`` broke the append-only contract: raise."""
    size = os.path.getsize(path) if os.path.exists(path) else 0
    if size < pos:
        raise RuntimeError(
            f"priority log {path} shrank to {size} bytes below the "
            f"{pos} bytes already counted; logs must be append-only"
        )
    if size == pos:
        return n, pos
    with open(path, "rb") as f:
        f.seek(pos)
        block_start = pos
        while block := f.read(_SCAN_BLOCK):
            at = 0
            while (j := block.find(b"\n", at)) >= 0:
                n += 1
                if n % READ_PARTITION_LINES == 0:
                    index[n] = block_start + j + 1
                at = j + 1
            if at:
                pos = block_start + at
            block_start += len(block)
    return n, pos


def _read_lines(path: str, start: int, end: int,
                anchor_line: int, anchor_byte: int):
    """Lines [start, end) of one priority log — the XRANGE analog.
    Yields (seq, job_dict | None, raw_line); None marks a malformed
    entry (the reference tolerates malformed/empty jobs rather than
    crashing the consumer — tests/unit/test_queue.py:183-222 there).

    Offsets are LINE counts (the contract the checkpoint persists). The
    read seeks to ``anchor_byte``, the start of line ``anchor_line``
    (≤ start), and skips the lines from there to ``start``. A
    broker-backed variant replaces this with an XRANGE cursor seek."""
    with open(path, "rb") as fb:
        fb.seek(anchor_byte)
        i = anchor_line
        for line in io.TextIOWrapper(fb, encoding="utf-8"):
            if i >= end:
                return
            if i >= start and line.strip():
                try:
                    job = json.loads(line)
                    if not isinstance(job, dict):
                        job = None
                except ValueError:
                    job = None
                yield i, job, line
            i += 1


def _row(priority: str, seq: int, job: dict | None, raw: str = ""):
    """Envelope dict → row tuple in SCHEMA order. Defensive .get()
    mirrors the reference's tolerance of sparse job dicts
    (stt_worker.py:117,141-145; tests/unit/test_queue.py:201-210).
    A malformed line (job=None) becomes a dead-letter row —
    type='malformed', raw text preserved in payload — instead of
    crashing the read task (S11 dead-letter semantics,
    pkg/queue/redis_consumer.go:285-298)."""
    if job is None:
        return (
            priority, PRIO_RANK[priority], seq, "", "malformed", 0.0,
            json.dumps({"raw": raw.rstrip("\n")}, sort_keys=True),
        )
    payload = job.get("payload")
    return (
        priority,
        PRIO_RANK[priority],
        seq,
        str(job.get("job_id", "")),
        str(job.get("type", "")),
        float(job.get("enqueued_at", 0.0)),
        json.dumps(payload, sort_keys=True) if payload is not None else None,
    )


# rows per yielded RecordBatch: bounds reader memory on huge backlogs
# while amortizing the per-batch JVM round trip (payloads are ~KB, so
# 4k rows is a few MB per batch)
_ARROW_CHUNK = 4096


def _rows_to_batch(rows: list[tuple]):
    """Row tuples → one RecordBatch with SCHEMA's names and types."""
    import pyarrow as pa

    types = {"string": pa.string(), "int": pa.int32(),
             "bigint": pa.int64(), "double": pa.float64()}
    fields = [f.split() for f in SCHEMA.split(", ")]
    return pa.RecordBatch.from_arrays(
        [pa.array(col, type=types[t])
         for col, (_, t) in zip(zip(*rows), fields)],
        names=[name for name, _ in fields],
    )


class QueueRange(NamedTuple):
    """Lines [start, end) of one priority log; ``anchor_byte`` is the
    byte position of line ``anchor_line``, the grid line at or below
    ``start``, where the read task seeks."""
    priority: str
    start: int
    end: int
    anchor_line: int
    anchor_byte: int


class QueuePartition(InputPartition):
    """One read task: ``ranges`` of the logs under ``path``, read in
    order."""

    def __init__(self, path: str, ranges: list[QueueRange] | None = None):
        self.path = path
        self.ranges = ranges or []


class PriorityQueueStreamReader(DataSourceStreamReader):
    """Consumer-group tail: offsets are per-priority line counts.

    Backpressure (P5, SURVEY §2.11): the ``max_records_per_batch``
    option is the maxOffsetsPerTrigger analog — latestOffset() advances
    at most that many lines per trigger, allocating the budget
    priority-descending (realtime drains before high before normal
    before low, the reference's drain order, redis_queue.py:157-224).
    Bounded intake per trigger is what keeps executor memory flat when
    the backlog spikes (the reference instead pauses producers at 0.8
    utilization, src/grpc_server/backpressure.py:77-127; consumer-side
    pacing replaces that producer gate)."""

    def __init__(self, options):
        self.path = options["path"]
        cap = int(options.get("max_records_per_batch", 0))
        self.max_per_batch = cap if cap > 0 else None
        self._cursor: dict | None = None  # last planned end offsets
        # per-priority byte offset of every READ_PARTITION_LINES-th line
        # start, extended by each scan; the logs are append-only, so
        # entries never go stale
        self._index = {p: {0: 0} for p in PRIORITIES}
        # per-priority (lines counted, byte after the last counted
        # newline): where the next scan resumes
        self._tail = {p: (0, 0) for p in PRIORITIES}

    def initialOffset(self) -> dict:
        return {p: 0 for p in PRIORITIES}

    def _scan(self, p: str) -> int:
        """Scan the bytes appended to ``p``'s log since the last scan;
        return its committed line count."""
        self._tail[p] = _scan_tail(_log_path(self.path, p), *self._tail[p],
                                   self._index[p])
        return self._tail[p][0]

    def latestOffset(self) -> dict:
        avail = {p: self._scan(p) for p in PRIORITIES}
        if self.max_per_batch is None:
            self._cursor = avail
            return avail
        base = self._cursor or {p: 0 for p in PRIORITIES}
        budget = self.max_per_batch
        end = {}
        for p in PRIORITIES:  # realtime first — R2 drain order
            take = min(max(avail[p] - base.get(p, 0), 0), budget)
            end[p] = base.get(p, 0) + take
            budget -= take
        self._cursor = end
        return end

    def partitions(self, start: dict, end: dict):
        # After a checkpoint restart the engine re-plans from the offset
        # log; never read below `start`, and re-anchor the rate-limit
        # cursor so the next trigger budgets from real progress. The
        # re-anchor applies even from a fresh (None) cursor: a restarted
        # reader's first call is partitions() for the recovered batch,
        # and the next trigger budgets from that batch's end. It also
        # keeps the planner correct under a pure (cursor-free)
        # latestOffset, the warc reader's style (pinned by
        # tests/test_queue_source.py::test_drain_survives_pure_latest_offset).
        cur = self._cursor or {}
        self._cursor = {
            p: max(cur.get(p, 0), int(start.get(p, 0)),
                   int(end.get(p, 0)))
            for p in PRIORITIES
        }
        grid = READ_PARTITION_LINES
        parts: list[QueuePartition] = []
        lines = grid  # the first range always opens a partition
        for p in PRIORITIES:  # realtime first — R2 drain order
            a, b = int(start.get(p, 0)), int(end.get(p, 0))
            # a restart plans before any scan; a log that holds fewer
            # lines than the planned end would silently lose them
            if b > self._tail[p][0] and self._scan(p) < b:
                raise RuntimeError(
                    f"priority log {_log_path(self.path, p)} holds "
                    f"{self._tail[p][0]} committed lines, fewer than the "
                    f"planned end offset {b}"
                )
            while a < b:
                cut = min(b, a - a % grid + grid)
                if lines + cut - a > grid:
                    parts.append(QueuePartition(self.path))
                    lines = 0
                anchor = a - a % grid
                parts[-1].ranges.append(
                    QueueRange(p, a, cut, anchor, self._index[p][anchor]))
                lines += cut - a
                a = cut
        # the engine requires at least one partition
        return parts or [QueuePartition(self.path)]

    def read(self, partition: QueuePartition):
        """The partition's ranges in order, as RecordBatches of at most
        ``_ARROW_CHUNK`` `_row` tuples."""
        rows: list[tuple] = []
        for r in partition.ranges:
            log = _log_path(partition.path, r.priority)
            for seq, job, raw in _read_lines(log, r.start, r.end,
                                             r.anchor_line, r.anchor_byte):
                rows.append(_row(r.priority, seq, job, raw))
                if len(rows) >= _ARROW_CHUNK:
                    yield _rows_to_batch(rows)
                    rows = []
        if rows:
            yield _rows_to_batch(rows)

    def commit(self, end: dict) -> None:
        # XACK analog — the engine's checkpoint already persisted `end`;
        # a broker-backed variant would ack/trim here (S8, S12)
        pass


class PriorityQueueBatchReader(DataSourceReader):
    """Whole-log batch scan (the `XRANGE - +` analog): the stream
    reader's plan from the first line to the last committed one."""

    def __init__(self, options):
        self._stream = PriorityQueueStreamReader({"path": options["path"]})

    def partitions(self):
        s = self._stream
        return s.partitions(s.initialOffset(), s.latestOffset())

    def read(self, partition: QueuePartition):
        yield from self._stream.read(partition)


class PriorityQueueDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "priority_queue"

    def schema(self) -> str:
        return SCHEMA

    def reader(self, schema) -> DataSourceReader:
        return PriorityQueueBatchReader(self.options)

    def streamReader(self, schema) -> DataSourceStreamReader:
        return PriorityQueueStreamReader(self.options)


def register_queue_source(spark) -> None:
    spark.dataSource.register(PriorityQueueDataSource)


def enqueue_job(path: str, priority: str, job: dict) -> None:
    """Test/producer helper — the `add_job` analog
    (redis_queue.py:92-145): append one serialized envelope to the
    chosen priority log (unknown priority falls back to 'normal',
    mirroring redis_queue.py:117-118)."""
    if priority not in PRIORITIES:
        priority = "normal"
    os.makedirs(path, exist_ok=True)
    with open(_log_path(path, priority), "a") as f:
        f.write(json.dumps(job, sort_keys=True) + "\n")
