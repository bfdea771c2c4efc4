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

Arrow read path (round-10 flagship profiling): the Python DataSource
API ships rows to the JVM either as per-row pickled tuples or as
pyarrow RecordBatches; the per-row path was ~0.9 s of the flagship
even leg's single batch (6.6k rows with 160-float payloads, measured
via the source-only ablation). Both readers therefore yield
RecordBatches built from the same `_row` tuples — identical values,
one (de)serialization per ~4k rows instead of per row. `_row` stays
the row-shape contract (and the unit-test surface).
"""

from __future__ import annotations

import json
import os

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


# block size for the single streaming scan the planner does per log —
# the file is never slurped whole: the scan holds one block at a time
# (O(block) buffer) and retains only the every-Nth-line byte index
# (O(lines/chunk) entries, cached on the reader), so multi-GB backlogs
# plan without ever materializing the log
_SCAN_BLOCK = 1 << 20


def _scan_log(path: str, every: int) -> tuple[int, dict[int, int]]:
    """One streaming pass over a priority log: returns
    ``(committed_line_count, {line_no: byte_offset})`` where the index
    records the byte position of every ``every``-th line start (line 0
    included). Only newline-TERMINATED lines count — a producer may be
    mid-append when latestOffset() runs, and a torn partial line must
    not become an offset (the XADD analog is atomic).

    The index is what makes range-split scans linear: each
    QueuePartition carries the byte offset of its chunk-grid anchor, so
    a task seeks instead of line-skipping the file prefix. Without it,
    L/chunk partitions each re-reading their prefix is O(L²/chunk)
    line reads per priority (round-10 advice)."""
    if not os.path.exists(path):
        return 0, {}
    offsets: dict[int, int] = {0: 0}
    n, _ = _scan_tail(path, every, 0, 0, offsets)
    return n, offsets


def _scan_tail(path: str, every: int, n: int, pos: int,
               offsets: dict[int, int]) -> tuple[int, int]:
    """Continue a scan that has counted ``n`` lines ending at byte
    ``pos`` (the byte after the last counted newline): count the
    newline-terminated lines after ``pos``, add every ``every``-th line
    start to ``offsets``, and return the new ``(n, pos)``. A torn
    trailing line stays uncounted, so the next call re-reads it. A log
    shorter than ``pos`` broke the append-only contract: raise."""
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
        while True:
            block = f.read(_SCAN_BLOCK)
            if not block:
                break
            at = 0
            while True:
                j = block.find(b"\n", at)
                if j < 0:
                    break
                n += 1
                if every > 0 and n % every == 0:
                    offsets[n] = block_start + j + 1
                at = j + 1
            if at:
                pos = block_start + at
            block_start += len(block)
    return n, pos


def _count_lines(path: str) -> int:
    """Number of COMMITTED (newline-terminated) lines."""
    return _scan_log(path, 0)[0]


def _read_lines(path: str, start: int, end: int,
                anchor_line: int = -1, anchor_byte: int = -1):
    """Lines [start, end) of one priority log — the XRANGE analog.
    Yields (seq, job_dict | None, raw_line); None marks a malformed
    entry (the reference tolerates malformed/empty jobs rather than
    crashing the consumer — tests/unit/test_queue.py:183-222 there).

    Offsets are LINE counts (the contract the checkpoint persists).
    When the partition carries a byte anchor (``anchor_line`` ≤ start
    with its ``anchor_byte``), the task seeks there and skips at most
    ``start - anchor_line`` lines — with chunk-grid-aligned splits
    that is < chunk lines, so a backlog of L lines costs O(L) total
    I/O across all its partitions instead of O(L²/chunk). Without an
    anchor (index unavailable) it degrades to the skip-from-zero scan.
    A broker-backed variant replaces this with an XRANGE cursor seek."""
    if not os.path.exists(path) or end <= start:
        return
    import io as _io

    fb = open(path, "rb")
    try:
        i = 0
        if 0 <= anchor_line <= start and anchor_byte >= 0:
            fb.seek(anchor_byte)
            i = anchor_line
        f = _io.TextIOWrapper(fb, encoding="utf-8")
        for line in f:
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
    finally:
        fb.close()


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

# lines per INPUT PARTITION (round-10 flagship profiling): one
# partition per priority caps scan parallelism at 4 whatever the
# backlog — the flagship even leg's source stage ran 4 tasks of 2.1 s
# each (the downstream from_json of the float payloads runs inside the
# scan stage) while 28 cores idled. Each priority's range is split
# into line-chunks so a deep backlog fans out across the cluster; a
# broker-backed variant would map these to XRANGE cursors. Overridable
# via the `read_partition_lines` option (0 = one partition per
# priority, the pre-round-10 shape).
_READ_PARTITION_LINES = 512


def _split_ranges(priority: str, start: int, end: int, path: str,
                  chunk: int,
                  index: dict[int, int] | None = None) -> list["QueuePartition"]:
    """Split [start, end) into scan partitions ALIGNED TO THE GLOBAL
    chunk grid (boundaries at multiples of ``chunk``), so every
    sub-range start is a key of the every-``chunk``-lines byte index
    and its task seeks straight to its data. Only the first sub-range
    can start off-grid (at ``start`` itself); its task skips at most
    chunk-1 lines from the preceding grid anchor."""
    if end <= start:
        return []
    if chunk <= 0:
        return [_with_anchor(QueuePartition(priority, start, end, path), chunk, index)]
    bounds = [start]
    g = (start // chunk + 1) * chunk
    while g < end:
        bounds.append(g)
        g += chunk
    bounds.append(end)
    return [
        _with_anchor(QueuePartition(priority, bounds[i], bounds[i + 1], path),
                     chunk, index)
        for i in range(len(bounds) - 1)
    ]


def _with_anchor(part: "QueuePartition", chunk: int,
                 index: dict[int, int] | None) -> "QueuePartition":
    """Attach the byte offset of the largest indexed line ≤ start."""
    if index:
        step = chunk if chunk > 0 else 1
        anchor = (part.start // step) * step if chunk > 0 else 0
        while anchor >= 0 and anchor not in index:
            anchor -= step
        if anchor >= 0:
            part.anchor_line = anchor
            part.anchor_byte = index[anchor]
    return part


def _arrow_schema():
    import pyarrow as pa

    return pa.schema([
        pa.field("priority", pa.string()),
        pa.field("prio_rank", pa.int32()),
        pa.field("seq", pa.int64()),
        pa.field("job_id", pa.string()),
        pa.field("type", pa.string()),
        pa.field("enqueued_at", pa.float64()),
        pa.field("payload", pa.string()),
    ])


def _rows_to_batch(rows: list[tuple]):
    import pyarrow as pa

    sch = _arrow_schema()
    cols = list(zip(*rows))
    return pa.RecordBatch.from_arrays(
        [pa.array(cols[i], type=f.type) for i, f in enumerate(sch)],
        schema=sch,
    )


def _read_arrow(partition: "QueuePartition"):
    """Partition scan as RecordBatches — the values are exactly the
    `_row` tuples, chunked columnar."""
    log = _log_path(partition.path, partition.priority)
    rows: list[tuple] = []
    for seq, job, raw in _read_lines(
        log, partition.start, partition.end,
        getattr(partition, "anchor_line", -1),
        getattr(partition, "anchor_byte", -1),
    ):
        rows.append(_row(partition.priority, seq, job, raw))
        if len(rows) >= _ARROW_CHUNK:
            yield _rows_to_batch(rows)
            rows = []
    if rows:
        yield _rows_to_batch(rows)


class QueuePartition(InputPartition):
    def __init__(self, priority: str, start: int, end: int, path: str,
                 anchor_line: int = -1, anchor_byte: int = -1):
        self.priority = priority
        self.start = start
        self.end = end
        self.path = path
        # byte position of line `anchor_line` (≤ start) in the log, or
        # -1/-1 when no index was available at planning time — the
        # reader then falls back to skip-from-zero
        self.anchor_line = anchor_line
        self.anchor_byte = anchor_byte


class PriorityQueueBatchReader(DataSourceReader):
    """Whole-log batch scan (the `XRANGE - +` analog)."""

    def __init__(self, options):
        self.path = options["path"]
        self.chunk = int(
            options.get("read_partition_lines", _READ_PARTITION_LINES)
        )

    def partitions(self):
        parts = []
        for p in PRIORITIES:
            n, index = _scan_log(_log_path(self.path, p), self.chunk)
            parts.extend(
                _split_ranges(p, 0, n, self.path, self.chunk, index)
            )
        # at least one (possibly empty) partition — the engine requires
        # a non-empty partition list
        return parts or [QueuePartition(PRIORITIES[0], 0, 0, self.path)]

    def read(self, partition: QueuePartition):
        yield from _read_arrow(partition)


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
        self.chunk = int(
            options.get("read_partition_lines", _READ_PARTITION_LINES)
        )
        self._cursor: dict | None = None  # last planned end offsets
        # per-priority every-chunk-lines byte index, extended by each
        # latestOffset scan; the logs are append-only so entries never
        # go stale — planning reuses it instead of rescanning
        self._index: dict[str, dict[int, int]] = {}
        # per-priority (lines counted, byte after the last counted
        # newline): where the next latestOffset scan resumes
        self._tail: dict[str, tuple[int, int]] = {}

    def initialOffset(self) -> dict:
        return {p: 0 for p in PRIORITIES}

    def _priority_index(self, p: str) -> dict[int, int]:
        if p not in self._index:  # checkpoint-restart: first call is
            # partitions() for the recovered batch, before any
            # latestOffset scan — build the index now
            _, self._index[p] = _scan_log(_log_path(self.path, p), self.chunk)
        return self._index[p]

    def latestOffset(self) -> dict:
        avail = {}
        for p in PRIORITIES:
            # scan only the bytes appended since the previous call
            if p not in self._tail:
                self._index[p] = {0: 0}
            n, pos = _scan_tail(_log_path(self.path, p), self.chunk,
                                *self._tail.get(p, (0, 0)), self._index[p])
            self._tail[p] = (n, pos)
            avail[p] = n
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
        # and budgeting the next trigger from that batch's end — rather
        # than from zero until the first latestOffset self-heals — is
        # the documented semantics. It also makes the planner correct
        # under a pure (cursor-free) latestOffset implementation, the
        # warc reader's style (round-9 advice; pinned by
        # tests/test_queue_source.py::test_drain_survives_pure_latest_offset).
        cur = self._cursor or {}
        self._cursor = {
            p: max(cur.get(p, 0), int(start.get(p, 0)),
                   int(end.get(p, 0)))
            for p in PRIORITIES
        }
        # realtime first — batch-local priority drain order (R2);
        # each priority's range further line-split for scan parallelism
        return [
            sub
            for p in PRIORITIES
            for sub in _split_ranges(
                p, int(start.get(p, 0)), int(end.get(p, 0)), self.path,
                self.chunk, self._priority_index(p),
            )
        ] or [QueuePartition(PRIORITIES[0], 0, 0, self.path)]

    def read(self, partition: QueuePartition):
        yield from _read_arrow(partition)

    def commit(self, end: dict) -> None:
        # XACK analog — the engine's checkpoint already persisted `end`;
        # a broker-backed variant would ack/trim here (S8, S12)
        pass


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
