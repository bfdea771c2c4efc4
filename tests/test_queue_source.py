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
    from streamprocess_spark.io.queue_source import _count_lines, _log_path

    qdir = str(tmp_path / "qt")
    enqueue_job(qdir, "high", {"job_id": "a", "type": "t"})
    log = _log_path(qdir, "high")
    with open(log, "a") as f:
        f.write('{"job_id": "torn", "ty')  # no trailing newline
    assert _count_lines(log) == 1
    register_queue_source(spark)
    df = spark.read.format("priority_queue").option("path", qdir).load()
    # batch scan sees only the committed line
    assert [r["job_id"] for r in df.collect()] == ["a"]
    # producer finishes the append → line becomes visible
    with open(log, "a") as f:
        f.write('pe": "t"}\n')
    assert _count_lines(log) == 2
    assert spark.read.format("priority_queue").option("path", qdir).load().count() == 2


def test_latest_offset_scans_incrementally(tmp_path, monkeypatch):
    """latestOffset resumes each log scan after the last counted
    newline: across appends (a torn line completed later included) its
    counts and byte index equal a fresh full ``_scan_log``, and a log
    truncated below the resume point raises."""
    import pytest

    from streamprocess_spark.io import queue_source as qs

    monkeypatch.setattr(qs, "_SCAN_BLOCK", 7)  # lines span block edges
    qdir = str(tmp_path / "qi")
    reader = qs.PriorityQueueStreamReader(
        {"path": qdir, "read_partition_lines": "3"})

    def check():
        end = reader.latestOffset()
        for p in qs.PRIORITIES:
            n, index = qs._scan_log(qs._log_path(qdir, p), 3)
            assert end[p] == n
            assert reader._index[p] == (index or {0: 0})

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
        """Round-9 advice: a q155-style drive loop (latestOffset +
        partitions per trigger, the engine's own call sequence) must
        produce the identical ledger under a PURE latestOffset — one
        that never advances reader state, the warc reader's documented
        style — because partitions() is the re-anchor point, including
        from a fresh (None) cursor. Without the partitions() re-anchor
        the pure reader re-budgets from zero forever and the loop exits
        after one batch with a partial ledger."""
        from streamprocess_spark.io.queue_source import (
            PRIORITIES,
            PriorityQueueStreamReader,
            _count_lines,
            _log_path,
            enqueue_job,
        )

        class PureReader(PriorityQueueStreamReader):
            def latestOffset(self):  # cursor-free: read-only planning
                avail = {
                    p: _count_lines(_log_path(self.path, p))
                    for p in PRIORITIES
                }
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


def test_arrow_read_path_matches_row_contract(tmp_path):
    """Round 10: readers yield pyarrow RecordBatches; the batch values
    must be exactly the `_row` tuples (same order, same types), the
    range split must tile [start, end) without gap/overlap, and empty
    ranges must yield no batches."""
    import pyarrow as pa

    from streamprocess_spark.io.queue_source import (
        QueuePartition,
        _read_arrow,
        _read_lines,
        _row,
        _split_ranges,
        enqueue_job,
        _log_path,
    )

    qdir = str(tmp_path / "q")
    for i in range(25):
        enqueue_job(qdir, "high", {"job_id": f"j{i}", "type": "t",
                                   "payload": {"k": i}})
    # malformed line rides along (dead-letter row contract)
    with open(_log_path(qdir, "high"), "a") as f:
        f.write("not json\n")

    parts = _split_ranges("high", 0, 26, qdir, chunk=10)
    assert [(p.start, p.end) for p in parts] == [(0, 10), (10, 20), (20, 26)]
    got = []
    for p in parts:
        for rb in _read_arrow(p):
            assert isinstance(rb, pa.RecordBatch)
            got.extend(tuple(r.values()) for r in rb.to_pylist())
    ref = [
        _row("high", seq, job, raw)
        for seq, job, raw in _read_lines(_log_path(qdir, "high"), 0, 26)
    ]
    assert got == ref and len(got) == 26
    assert list(_read_arrow(QueuePartition("low", 0, 0, qdir))) == []


def test_byte_index_seek_matches_skip_scan(tmp_path):
    """Round 11 (advice): the planner's every-chunk-lines byte index
    lets each range-split task seek to its grid anchor instead of
    line-skipping the file prefix. Values must be identical either
    way, off-grid starts (checkpoint restarts) must anchor to the
    preceding grid line, and splits must align to the GLOBAL chunk
    grid so at most one partition per range starts off-grid."""
    from streamprocess_spark.io.queue_source import (
        _log_path,
        _read_lines,
        _scan_log,
        _split_ranges,
        enqueue_job,
    )

    qdir = str(tmp_path / "q")
    for i in range(57):
        enqueue_job(qdir, "normal", {"job_id": f"j{i}", "type": "t",
                                     "payload": {"k": i, "pad": "x" * i}})
    log = _log_path(qdir, "normal")
    n, index = _scan_log(log, 10)
    assert n == 57
    assert sorted(index) == [0, 10, 20, 30, 40, 50]
    # index byte offsets are real line starts
    with open(log, "rb") as f:
        data = f.read()
    for ln, off in index.items():
        assert off == 0 or data[off - 1] == ord("\n")

    # off-grid start (restart at line 13): splits align to the grid
    parts = _split_ranges("normal", 13, 57, qdir, chunk=10, index=index)
    assert [(p.start, p.end) for p in parts] == [
        (13, 20), (20, 30), (30, 40), (40, 50), (50, 57)]
    assert [(p.anchor_line) for p in parts] == [10, 20, 30, 40, 50]
    got = [
        (seq, job)
        for p in parts
        for seq, job, _ in _read_lines(log, p.start, p.end,
                                       p.anchor_line, p.anchor_byte)
    ]
    ref = [(seq, job) for seq, job, _ in _read_lines(log, 13, 57)]
    assert got == ref and len(got) == 44

    # a seek-anchored read never touches bytes before its anchor:
    # truncating the prefix under the anchor still reads correctly
    p = parts[1]  # [20, 30) anchored at line 20
    hole = bytearray(data)
    for b in range(index[20]):
        hole[b] = ord("#")  # corrupt everything before the anchor
    mutated = str(tmp_path / "mut.jsonl")
    with open(mutated, "wb") as f:
        f.write(bytes(hole))
    via_seek = [(s, j) for s, j, _ in _read_lines(
        mutated, p.start, p.end, p.anchor_line, p.anchor_byte)]
    assert via_seek == [(s, j) for s, j, _ in _read_lines(log, 20, 30)]
