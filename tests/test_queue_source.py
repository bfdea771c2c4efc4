"""Priority-queue Python DataSource (SURVEY §2.1 S7): batch scan,
streaming tail with checkpointed offsets (exactly-once), and the
priority-drain ordering contract."""

from __future__ import annotations

import time

import pytest
from pyspark.sql import functions as F

from streamprocess_spark.io.queue_source import (
    PRIORITIES,
    enqueue_job,
    register_queue_source,
)


def _seed(path: str, n_per_prio: int = 3) -> int:
    k = 0
    for p in PRIORITIES:
        for i in range(n_per_prio):
            enqueue_job(
                path,
                p,
                {
                    "job_id": f"{p}-{i}",
                    "type": "stt_chunk" if i % 2 == 0 else "ocr_single",
                    "enqueued_at": 1000.0 + k,
                    "payload": {"n": k},
                },
            )
            k += 1
    return k


def test_batch_read_all_priorities(spark, tmp_path):
    qdir = str(tmp_path / "q")
    n = _seed(qdir)
    register_queue_source(spark)
    df = spark.read.format("priority_queue").option("path", qdir).load()
    assert df.count() == n
    got = {r["priority"] for r in df.select("priority").distinct().collect()}
    assert got == set(PRIORITIES)
    # R2 contract: prio_rank orders realtime < high < normal < low
    ranks = dict(
        df.select("priority", "prio_rank").distinct().collect()
    )
    assert ranks["realtime"] < ranks["high"] < ranks["normal"] < ranks["low"]


def test_unknown_priority_demoted_to_normal(spark, tmp_path):
    qdir = str(tmp_path / "q2")
    enqueue_job(qdir, "bogus", {"job_id": "x", "type": "t"})
    register_queue_source(spark)
    df = spark.read.format("priority_queue").option("path", qdir).load()
    rows = df.collect()
    assert len(rows) == 1 and rows[0]["priority"] == "normal"


def test_offsets_survive_query_restart(spark, tmp_path):
    """Consumer-group recovery (XREADGROUP after reconnect,
    redis_queue.py:147-224): a NEW query on the SAME checkpoint must
    resume from the committed per-priority offsets — old rows are not
    replayed, rows enqueued while stopped are delivered."""
    qdir = str(tmp_path / "qr")
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")
    n1 = _seed(qdir, 2)
    register_queue_source(spark)

    def run_until(expected):
        stream = (
            spark.readStream.format("priority_queue").option("path", qdir).load()
        )
        q = (
            stream.writeStream.format("parquet")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .trigger(processingTime="200 milliseconds")
            .outputMode("append")
            .start()
        )
        try:
            deadline = time.time() + 30
            while time.time() < deadline:
                try:
                    if spark.read.parquet(out).count() >= expected:
                        break
                except Exception:
                    pass  # sink dir not materialized yet
                time.sleep(0.3)
        finally:
            q.stop()
        return spark.read.parquet(out)

    assert run_until(n1).count() == n1
    # enqueue while no query is running
    enqueue_job(qdir, "realtime", {"job_id": "offline-1", "type": "t"})
    enqueue_job(qdir, "high", {"job_id": "offline-2", "type": "t"})
    final = run_until(n1 + 2)
    # restarted query resumed from committed offsets: each (priority,
    # seq) delivered exactly once — a replay would duplicate rows here
    assert final.count() == n1 + 2
    assert final.groupBy("priority", "seq").count().filter("count > 1").count() == 0
    assert final.filter(final["job_id"].startswith("offline-")).count() == 2


def test_malformed_line_becomes_dead_letter_row(spark, tmp_path):
    """Reference tolerance for malformed jobs (tests/unit/test_queue.py:
    183-222 there): a non-JSON or non-dict line must not crash the read
    task — it surfaces as a type='malformed' dead-letter row (S11) with
    the raw text preserved, and well-formed neighbors still flow."""
    import json as _json

    qdir = str(tmp_path / "qm")
    enqueue_job(qdir, "normal", {"job_id": "ok-1", "type": "t"})
    with open(f"{qdir}/normal.jsonl", "a") as f:
        f.write("{not valid json]]\n")
        f.write('"a bare string, not an envelope"\n')
    enqueue_job(qdir, "normal", {"job_id": "ok-2", "type": "t"})

    register_queue_source(spark)
    rows = (
        spark.read.format("priority_queue").option("path", qdir).load()
        .orderBy("seq")
        .collect()
    )
    assert [r["type"] for r in rows] == ["t", "malformed", "malformed", "t"]
    assert [r["job_id"] for r in rows] == ["ok-1", "", "", "ok-2"]
    assert _json.loads(rows[1]["payload"])["raw"] == "{not valid json]]"
    # offsets stay dense: seq numbering unaffected by the bad lines
    assert [r["seq"] for r in rows] == [0, 1, 2, 3]


def test_torn_write_not_counted_until_newline(spark, tmp_path):
    """latestOffset must not claim a partially-appended line
    (redis XADD is atomic; a torn tail line is an uncommitted entry)."""
    from streamprocess_spark.io.queue_source import (
        PriorityQueueStreamReader,
        _log_path,
    )

    def committed() -> int:
        return PriorityQueueStreamReader({"path": qdir}).latestOffset()["high"]

    qdir = str(tmp_path / "qt")
    enqueue_job(qdir, "high", {"job_id": "a", "type": "t"})
    log = _log_path(qdir, "high")
    with open(log, "a") as f:
        f.write('{"job_id": "torn", "ty')  # no trailing newline
    assert committed() == 1
    register_queue_source(spark)
    df = spark.read.format("priority_queue").option("path", qdir).load()
    # batch scan sees only the committed line
    assert [r["job_id"] for r in df.collect()] == ["a"]
    # producer finishes the append → line becomes visible
    with open(log, "a") as f:
        f.write('pe": "t"}\n')
    assert committed() == 2
    assert spark.read.format("priority_queue").option("path", qdir).load().count() == 2


def _whole_file_index(log: str, grid: int) -> tuple[int, dict[int, int]]:
    """Committed line count of ``log`` and the start of every
    ``grid``-th line, from the whole file at once."""
    from pathlib import Path

    data = Path(log).read_bytes() if Path(log).exists() else b""
    ends = [i + 1 for i, b in enumerate(data) if b == ord("\n")]
    index = {0: 0}
    index.update({n: ends[n - 1] for n in range(grid, len(ends) + 1, grid)})
    return len(ends), index


def test_latest_offset_scans_incrementally(tmp_path, monkeypatch):
    """latestOffset resumes each log scan after the last counted
    newline: across appends (a torn line completed later included) its
    counts and byte index equal a whole-file count, and a log truncated
    below the resume point raises."""
    from streamprocess_spark.io import queue_source as qs

    monkeypatch.setattr(qs, "_SCAN_BLOCK", 7)  # lines span block edges
    monkeypatch.setattr(qs, "READ_PARTITION_LINES", 3)
    qdir = str(tmp_path / "qi")
    reader = qs.PriorityQueueStreamReader({"path": qdir})

    def check():
        end = reader.latestOffset()
        for p in qs.PRIORITIES:
            n, index = _whole_file_index(qs._log_path(qdir, p), 3)
            assert end[p] == n
            assert reader._index[p] == index

    check()  # no logs yet
    log = qs._log_path(qdir, "high")
    for i in range(5):
        enqueue_job(qdir, "high", {"job_id": f"h{i}", "pad": "x" * i})
        check()
    enqueue_job(qdir, "low", {"job_id": "l0"})
    with open(log, "a") as f:
        f.write('{"job_id": "torn", "ty')  # no trailing newline
    check()
    assert reader.latestOffset()["high"] == 5
    with open(log, "a") as f:
        f.write('pe": "t"}\n')
    for i in range(4):
        enqueue_job(qdir, "high", {"job_id": f"g{i}"})
    check()
    assert reader.latestOffset()["high"] == 10

    with open(log, "r+") as f:
        f.truncate(10)
    with pytest.raises(RuntimeError, match="append-only"):
        reader.latestOffset()


def test_max_records_per_batch_bounds_intake(spark, tmp_path):
    """P5 backpressure: with max_records_per_batch=N no micro-batch
    admits more than N rows, and the budget drains priority-descending
    (realtime exhausted before low sees any budget — R2 drain order,
    redis_queue.py:157-224)."""
    qdir = str(tmp_path / "qb")
    ckpt = str(tmp_path / "ckpt")
    # 8 realtime + 8 low jobs
    for i in range(8):
        enqueue_job(qdir, "realtime", {"job_id": f"rt-{i}", "type": "t"})
        enqueue_job(qdir, "low", {"job_id": f"low-{i}", "type": "t"})
    register_queue_source(spark)
    stream = (
        spark.readStream.format("priority_queue")
        .option("path", qdir)
        .option("max_records_per_batch", 5)
        .load()
    )
    batches: list[tuple[int, int, int]] = []  # (rows, n_realtime, n_low)

    def observe(df, epoch_id):
        rows = df.collect()
        batches.append((
            len(rows),
            sum(1 for r in rows if r["priority"] == "realtime"),
            sum(1 for r in rows if r["priority"] == "low"),
        ))

    q = (
        stream.writeStream.foreachBatch(observe)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        while time.time() < deadline and sum(b[0] for b in batches) < 16:
            time.sleep(0.3)
    finally:
        q.stop()
    total = sum(b[0] for b in batches)
    assert total == 16, f"lost rows: {batches}"
    assert all(b[0] <= 5 for b in batches), f"intake bound violated: {batches}"
    # priority-descending budget: low gets budget only once realtime is dry
    for rows, n_rt, n_low in batches:
        if n_low > 0 and n_rt > 0:
            # mixed batch is only legal when it finishes the realtime backlog
            assert n_rt + n_low <= 5
    first_low_batch = next(i for i, b in enumerate(batches) if b[2] > 0)
    assert sum(b[1] for b in batches[: first_low_batch + 1]) == 8, (
        "low-priority rows admitted before realtime backlog drained"
    )


def test_stream_tail_is_incremental_exactly_once(spark, tmp_path):
    qdir = str(tmp_path / "q3")
    ckpt = str(tmp_path / "ckpt")
    n1 = _seed(qdir, 2)
    register_queue_source(spark)
    stream = (
        spark.readStream.format("priority_queue").option("path", qdir).load()
    )
    query = (
        stream.writeStream.format("memory")
        .queryName("queue_sink")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .outputMode("append")
        .start()
    )
    try:
        def wait_count(expected, timeout=30.0):
            deadline = time.time() + timeout
            while time.time() < deadline:
                got = spark.sql("SELECT count(*) c FROM queue_sink").first()["c"]
                if got >= expected:
                    return got
                time.sleep(0.2)
            return spark.sql("SELECT count(*) c FROM queue_sink").first()["c"]

        assert wait_count(n1) == n1
        # late enqueue lands in a later micro-batch, no replays
        enqueue_job(qdir, "realtime", {"job_id": "late-1", "type": "stt_chunk"})
        enqueue_job(qdir, "low", {"job_id": "late-2", "type": "ocr_single"})
        assert wait_count(n1 + 2) == n1 + 2
        dupes = (
            spark.sql("SELECT priority, seq FROM queue_sink")
            .groupBy("priority", "seq")
            .count()
            .filter(F.col("count") > 1)
            .count()
        )
        assert dupes == 0, "offset tracking replayed rows"
    finally:
        query.stop()


class TestOffsetCommitLedger:
    """q155: the stream planner's budgeted drain produces a commit
    ledger with exactly-once coverage, per-priority monotone offsets,
    and drain-order budget allocation."""

    def _ledger(self, spark, tmp_path, counts, budget):
        from streamprocess_spark.io.queue_source import (
            PRIORITIES,
            PriorityQueueStreamReader,
            enqueue_job,
        )

        qdir = str(tmp_path / "q")
        for p, n in counts.items():
            for i in range(n):
                enqueue_job(qdir, p, {"job_id": f"{p}-{i}", "type": "t"})
        reader = PriorityQueueStreamReader(
            {"path": qdir, "max_records_per_batch": str(budget)}
        )
        start = reader.initialOffset()
        rows = []
        batch_id = 0
        while True:
            end = reader.latestOffset()
            if end == start:
                break
            for p in PRIORITIES:
                if end[p] > start[p]:
                    rows.append((batch_id, p, start[p], end[p]))
            start = end
            batch_id += 1
        return rows

    def test_exactly_once_coverage_and_budget(self, spark, tmp_path):
        counts = {"realtime": 250, "high": 90, "normal": 130, "low": 40}
        budget = 100
        rows = self._ledger(spark, tmp_path, counts, budget)
        # per-priority ranges are contiguous from 0 and cover every line
        # exactly once
        for p, n in counts.items():
            spans = sorted((s, e) for _, pp, s, e in rows if pp == p)
            cur = 0
            for s, e in spans:
                assert s == cur and e > s
                cur = e
            assert cur == n
        # every batch admits exactly `budget` jobs except the last
        per_batch = {}
        for b, _, s, e in rows:
            per_batch[b] = per_batch.get(b, 0) + (e - s)
        last = max(per_batch)
        for b, n in per_batch.items():
            assert n == budget or b == last
        # drain order: a static backlog drains realtime > high > normal
        # > low, so the ledger's prio_rank sequence (batch order, ranks
        # sorted within a batch) is globally non-decreasing — a drained
        # priority is never re-opened by a later batch
        from streamprocess_spark.io.queue_source import PRIO_RANK

        seq = [
            PRIO_RANK[p]
            for _, p, _, _ in sorted(
                rows, key=lambda r: (r[0], PRIO_RANK[r[1]])
            )
        ]
        assert seq == sorted(seq)

    def test_drain_survives_pure_latest_offset(self, spark, tmp_path):
        """A q155-style drive loop (latestOffset + partitions per
        trigger, the engine's own call sequence) must produce the
        identical ledger under a PURE latestOffset — one that never
        advances the reader's cursor, the warc reader's documented
        style — because partitions() is the re-anchor point, including
        from a fresh (None) cursor. Without the partitions() re-anchor
        the pure reader re-budgets from zero forever and the loop exits
        after one batch with a partial ledger."""
        from streamprocess_spark.io.queue_source import (
            PRIORITIES,
            PriorityQueueStreamReader,
            enqueue_job,
        )

        class PureReader(PriorityQueueStreamReader):
            def latestOffset(self):  # cursor-free: read-only planning
                avail = PriorityQueueStreamReader(
                    {"path": self.path}).latestOffset()
                if self.max_per_batch is None:
                    return avail
                base = self._cursor or {p: 0 for p in PRIORITIES}
                budget = self.max_per_batch
                end = {}
                for p in PRIORITIES:
                    take = min(max(avail[p] - base.get(p, 0), 0), budget)
                    end[p] = base.get(p, 0) + take
                    budget -= take
                return end

        qdir = str(tmp_path / "q")
        counts = {"realtime": 25, "high": 9, "normal": 13, "low": 4}
        for p, n in counts.items():
            for i in range(n):
                enqueue_job(qdir, p, {"job_id": f"{p}-{i}", "type": "t"})

        def drive(reader):
            start = reader.initialOffset()
            rows, batch_id = [], 0
            for _ in range(1000):           # bounded: a broken planner
                end = reader.latestOffset()  # must fail, not hang
                if end == start:
                    break
                reader.partitions(start, end)   # the engine's sequence
                for p in PRIORITIES:
                    if end[p] > start[p]:
                        rows.append((batch_id, p, start[p], end[p]))
                start = end
                batch_id += 1
            return rows

        opts = {"path": qdir, "max_records_per_batch": "10"}
        impure = drive(PriorityQueueStreamReader(dict(opts)))
        pure = drive(PureReader(dict(opts)))
        assert pure == impure
        assert sum(e - s for _, _, s, e in pure) == sum(counts.values())

    def test_ledger_query_matches_brute_force(self, spark):
        """q155 at sf0.001 vs a pandas reconstruction of the contract."""
        from streamprocess_spark.plans import query_map

        from tests.conftest import SF_DIR

        out = (
            query_map()["q155_offset_commit_ledger"](spark, SF_DIR)
            .toPandas()
            .sort_values(["batch_id", "priority"])
            .reset_index(drop=True)
        )
        # committed offset is always the batch's own max seq + 1 and is
        # strictly monotone per priority across batches
        assert (out["committed_offset"] == out["max_seq"] + 1).all()
        assert (out["n_jobs"] == out["max_seq"] - out["min_seq"] + 1).all()
        for _, g in out.groupby("priority"):
            seqs = g.sort_values("batch_id")
            assert seqs["min_seq"].iloc[0] == 0
            assert (
                seqs["min_seq"].iloc[1:].to_numpy()
                == seqs["committed_offset"].iloc[:-1].to_numpy()
            ).all()


def _plan(qdir: str, start: dict | None = None):
    from streamprocess_spark.io.queue_source import PriorityQueueStreamReader

    reader = PriorityQueueStreamReader({"path": qdir})
    end = reader.latestOffset()
    start = start or {p: 0 for p in PRIORITIES}
    return reader, end, reader.partitions(start, end)


def _rows(reader, parts) -> list[tuple]:
    return [tuple(r.values()) for part in parts
            for rb in reader.read(part) for r in rb.to_pylist()]


def _ref_rows(qdir: str, start: dict, end: dict) -> list[tuple]:
    """The rows of [start, end) per priority, each log read from its
    first line (line 0 at byte 0)."""
    from streamprocess_spark.io.queue_source import _log_path, _read_lines, _row

    return [_row(p, seq, job, raw)
            for p in PRIORITIES if end[p] > start[p]
            for seq, job, raw in _read_lines(_log_path(qdir, p),
                                             start[p], end[p], 0, 0)]


def test_arrow_read_path_matches_row_contract(tmp_path, monkeypatch):
    """Readers yield pyarrow RecordBatches; the batch values must be
    exactly the `_row` tuples (same order, same types), the grid cuts
    must tile [start, end) without gap/overlap, and a partition without
    ranges must yield no batches."""
    import pyarrow as pa

    from streamprocess_spark.io import queue_source as qs

    monkeypatch.setattr(qs, "READ_PARTITION_LINES", 10)
    qdir = str(tmp_path / "q")
    for i in range(25):
        enqueue_job(qdir, "high", {"job_id": f"j{i}", "type": "t",
                                   "payload": {"k": i}})
    # malformed line rides along (dead-letter row contract)
    with open(qs._log_path(qdir, "high"), "a") as f:
        f.write("not json\n")

    reader, end, parts = _plan(qdir)
    assert [[(r.start, r.end) for r in p.ranges] for p in parts] == [
        [(0, 10)], [(10, 20)], [(20, 26)]]
    got = []
    for p in parts:
        for rb in reader.read(p):
            assert isinstance(rb, pa.RecordBatch)
            got.extend(tuple(r.values()) for r in rb.to_pylist())
    assert got == _ref_rows(qdir, reader.initialOffset(), end)
    assert len(got) == 26
    assert list(reader.read(qs.QueuePartition(qdir))) == []


def test_byte_index_seek_matches_skip_scan(tmp_path, monkeypatch):
    """The planner's every-grid-lines byte index lets each range's task
    seek to its grid line instead of line-skipping the file prefix.
    Values must equal a read from the top of the log, off-grid starts
    (checkpoint restarts) must anchor to the preceding grid line, and
    cuts must align to the GLOBAL grid so only a priority's first
    range can start off-grid."""
    from pathlib import Path

    from streamprocess_spark.io import queue_source as qs

    monkeypatch.setattr(qs, "READ_PARTITION_LINES", 10)
    qdir = str(tmp_path / "q")
    for i in range(57):
        enqueue_job(qdir, "normal", {"job_id": f"j{i}", "type": "t",
                                     "payload": {"k": i, "pad": "x" * i}})
    log = qs._log_path(qdir, "normal")
    # off-grid start (restart at line 13)
    start = dict({p: 0 for p in PRIORITIES}, normal=13)
    reader, end, parts = _plan(qdir, start)
    assert end["normal"] == 57
    index = reader._index["normal"]
    assert sorted(index) == [0, 10, 20, 30, 40, 50]
    # index byte offsets are real line starts
    data = Path(log).read_bytes()
    for off in index.values():
        assert off == 0 or data[off - 1] == ord("\n")

    ranges = [r for p in parts for r in p.ranges]
    assert [(r.start, r.end, r.anchor_line) for r in ranges] == [
        (13, 20, 10), (20, 30, 20), (30, 40, 30), (40, 50, 40), (50, 57, 50)]
    assert all(r.anchor_byte == index[r.anchor_line] for r in ranges)
    got = [
        (seq, job)
        for r in ranges
        for seq, job, _ in qs._read_lines(log, r.start, r.end,
                                          r.anchor_line, r.anchor_byte)
    ]
    ref = [(seq, job) for seq, job, _ in qs._read_lines(log, 13, 57, 0, 0)]
    assert got == ref and len(got) == 44

    # a seek-anchored read never touches bytes before its anchor:
    # corrupting the prefix under the anchor still reads correctly
    r = ranges[1]  # [20, 30) anchored at line 20
    hole = bytearray(data)
    for b in range(index[20]):
        hole[b] = ord("#")  # corrupt everything before the anchor
    mutated = str(tmp_path / "mut.jsonl")
    with open(mutated, "wb") as f:
        f.write(bytes(hole))
    via_seek = [(s, j) for s, j, _ in qs._read_lines(
        mutated, r.start, r.end, r.anchor_line, r.anchor_byte)]
    assert via_seek == [(s, j) for s, j, _ in qs._read_lines(log, 20, 30, 0, 0)]


def test_small_priority_ranges_pack_into_one_read_partition(tmp_path):
    """A trigger's few lines across all four priorities are one read
    task, and it yields exactly the unpacked ranges' rows in the
    realtime→low drain order."""
    from streamprocess_spark.io.queue_source import QueuePartition

    qdir = str(tmp_path / "q")
    _seed(qdir, n_per_prio=30)
    start = {"realtime": 0, "high": 7, "normal": 29, "low": 3}
    reader, end, parts = _plan(qdir, start)
    assert len(parts) == 1
    assert [(r.priority, r.start, r.end) for r in parts[0].ranges] == [
        ("realtime", 0, 30), ("high", 7, 30), ("normal", 29, 30),
        ("low", 3, 30)]
    got = _rows(reader, parts)
    assert got == _ref_rows(qdir, start, end) and len(got) == 81
    unpacked = [QueuePartition(qdir, [r]) for r in parts[0].ranges]
    assert _rows(reader, unpacked) == got


def test_large_ranges_keep_the_grid_split(tmp_path, monkeypatch):
    """Ranges of at least a grid's lines stay cut on the global grid,
    no partition holds more than a grid's lines, and packing only
    joins neighbours: the rows read are the unpacked ranges' rows. The
    batch reader plans through the stream reader."""
    from streamprocess_spark.io import queue_source as qs

    monkeypatch.setattr(qs, "READ_PARTITION_LINES", 10)
    qdir = str(tmp_path / "q")
    _seed(qdir, n_per_prio=4)
    for i in range(4, 27):
        enqueue_job(qdir, "high", {"job_id": f"high-{i}", "type": "t"})
    start = {"realtime": 1, "high": 3, "normal": 0, "low": 0}
    reader, end, parts = _plan(qdir, start)
    assert end == {"realtime": 4, "high": 27, "normal": 4, "low": 4}
    assert [[(r.priority, r.start, r.end) for r in p.ranges] for p in parts] == [
        [("realtime", 1, 4), ("high", 3, 10)],
        [("high", 10, 20)],
        [("high", 20, 27)],
        [("normal", 0, 4), ("low", 0, 4)],
    ]
    for p in parts:
        assert sum(r.end - r.start for r in p.ranges) <= 10
        assert all(r.start % 10 == 0 for r in p.ranges
                   if r.priority == "high" and r.start != 3)
    assert _rows(reader, parts) == _ref_rows(qdir, start, end)

    batch = qs.PriorityQueueBatchReader({"path": qdir})
    bparts = batch.partitions()
    # range for range and anchor for anchor, the stream plan from the
    # first line to latestOffset()
    stream = qs.PriorityQueueStreamReader({"path": qdir})
    plan = stream.partitions(stream.initialOffset(), stream.latestOffset())
    assert [p.ranges for p in bparts] == [p.ranges for p in plan]
    assert max(sum(r.end - r.start for r in p.ranges) for p in bparts) <= 10
    assert _rows(batch, bparts) == _ref_rows(
        qdir, {p: 0 for p in PRIORITIES}, end)


def test_default_grid_cuts_each_priority_at_512_lines(tmp_path):
    """At the default 512-line grid each 600-line priority is cut at
    line 512, and no 88-line tail fits beside the next priority's 512
    lines."""
    qdir = str(tmp_path / "q")
    _seed(qdir, n_per_prio=600)
    start = {p: 0 for p in PRIORITIES}
    reader, end, parts = _plan(qdir, start)
    assert [(r.start, r.end) for p in parts for r in p.ranges] == [
        (0, 512), (512, 600)] * 4
    assert all(len(p.ranges) == 1 for p in parts)
    assert _rows(reader, parts) == _ref_rows(qdir, start, end)


def test_planned_end_past_a_short_log_raises(tmp_path):
    """A planned end beyond the lines a log holds (say, a checkpoint
    restarted over a shorter log) fails loudly: reading the 5 lines
    there and committing offset 8 would lose lines 5–7 for good."""
    from streamprocess_spark.io.queue_source import PriorityQueueStreamReader

    qdir = str(tmp_path / "q")
    for i in range(5):
        enqueue_job(qdir, "high", {"job_id": f"h{i}", "type": "t"})
    start = {p: 0 for p in PRIORITIES}
    end = dict(start, high=8)
    msg = r"high\.jsonl holds 5 committed lines, fewer than the planned end offset 8"
    restarted = PriorityQueueStreamReader({"path": qdir})  # no scan yet
    with pytest.raises(RuntimeError, match=msg):
        restarted.partitions(start, end)
    scanned = PriorityQueueStreamReader({"path": qdir})
    assert scanned.latestOffset()["high"] == 5
    with pytest.raises(RuntimeError, match=msg):
        scanned.partitions(start, end)
