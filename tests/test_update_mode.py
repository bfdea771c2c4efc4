"""Update output mode (SURVEY T6, §2.11 output modes): the streaming
form of partial-result revision — each micro-batch emits ONLY the keys
whose aggregate changed (the reference's partial transcripts superseded
by later revisions); the latest revision per key converges to the
batch answer."""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import functions as F

from streamprocess_spark.schemas import EVENTS
from tests.conftest import SF_DIR

N_SPLITS = 4


def test_update_mode_revisions_converge(spark, tmp_path):
    from pyspark.sql.window import Window
    from streamprocess_spark.io.tables import load_tables, table_path

    base = tempfile.mkdtemp(prefix="spupd_")
    try:
        ev = spark.read.parquet(table_path(SF_DIR, "events"))
        # time-ordered splits -> one micro-batch each
        tiles = ev.select(
            F.ntile(N_SPLITS).over(Window.orderBy("ts", "event_id")).alias("tile"),
            "*",
        )
        for t in range(1, N_SPLITS + 1):
            part = tiles.filter(F.col("tile") == t).drop("tile")
            pdir = os.path.join(base, f"s{t}")
            part.coalesce(1).write.parquet(pdir)
            src = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
            shutil.move(
                os.path.join(pdir, src), os.path.join(base, f"part-{t:03d}.parquet")
            )
            shutil.rmtree(pdir)

        stream = (
            spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(base)
        )
        # per (user, type) running aggregate: every batch revises only
        # the keys whose aggregate changed
        agg = stream.groupBy("user_id", "event_type").agg(
            F.count(F.lit(1)).alias("n"), F.max("ts").alias("last_ts")
        )

        revisions: list[tuple[int, dict]] = []

        def capture(batch_df, batch_id):
            rows = {
                (r.user_id, r.event_type): (r.n, r.last_ts)
                for r in batch_df.collect()
            }
            revisions.append((batch_id, rows))

        ckpt = str(tmp_path / "ckpt")
        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(capture)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        assert len(revisions) >= N_SPLITS
        # update mode emits EXACTLY the keys whose aggregate changed:
        # the final batch's emitted keys are the keys present in the
        # final file, not the whole key space
        last_rows = next(rows for _, rows in reversed(revisions) if rows)
        last_file_keys = {
            (r.user_id, r.event_type)
            for r in tiles.filter(F.col("tile") == N_SPLITS)
            .select("user_id", "event_type")
            .distinct()
            .collect()
        }
        assert set(last_rows) == last_file_keys
        n_keys = ev.select("user_id", "event_type").distinct().count()
        assert len(last_rows) < n_keys  # a strict subset was revised

        # latest revision per key == batch answer (partials superseded)
        latest: dict = {}
        for _, rows in revisions:
            latest.update(rows)
        want = {
            (r.user_id, r.event_type): (r.n, r.last_ts)
            for r in ev.groupBy("user_id", "event_type")
            .agg(F.count(F.lit(1)).alias("n"), F.max("ts").alias("last_ts"))
            .collect()
        }
        assert latest == want
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_compacting_upsert_store_stays_bounded(spark):
    """Round-3 finding: the keyed-upsert store grew by O(changed keys)
    per trigger forever. With compaction every N batches, the store
    must stay O(distinct keys) over many triggers AND the read-side
    latest-per-key must still equal the batch answer."""
    from pyspark.sql.window import Window
    from streamprocess_spark.io.tables import table_path
    from streamprocess_spark.io.txlog import TxTable
    from streamprocess_spark.streaming.upsert import (
        compacting_upsert_writer,
        read_latest,
        read_store,
    )

    n_splits = 12
    compact_every = 4
    base = tempfile.mkdtemp(prefix="spcmp_")
    store = tempfile.mkdtemp(prefix="spcmpstore_")
    ckpt = tempfile.mkdtemp(prefix="spcmpckpt_")
    try:
        ev = spark.read.parquet(table_path(SF_DIR, "events"))
        tiles = ev.select(
            F.ntile(n_splits).over(Window.orderBy("ts", "event_id")).alias("tile"),
            "*",
        )
        for t in range(1, n_splits + 1):
            part = tiles.filter(F.col("tile") == t).drop("tile")
            pdir = os.path.join(base, f"s{t}")
            part.coalesce(1).write.parquet(pdir)
            src = next(f for f in os.listdir(pdir) if f.endswith(".parquet"))
            shutil.move(
                os.path.join(pdir, src), os.path.join(base, f"part-{t:03d}.parquet")
            )
            shutil.rmtree(pdir)

        stream = (
            spark.readStream.schema(EVENTS)
            .option("maxFilesPerTrigger", 1)
            .parquet(base)
        )
        agg = stream.groupBy("user_id").agg(F.count(F.lit(1)).alias("n"))
        emitted: list[int] = []

        upsert = compacting_upsert_writer(store, ["user_id"], compact_every)

        def track(batch_df, batch_id):
            emitted.append(batch_df.count())
            upsert(batch_df, batch_id)

        q = (
            agg.writeStream.outputMode("update")
            .foreachBatch(track)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()

        assert len(emitted) >= n_splits
        n_keys = ev.select("user_id").distinct().count()
        store_rows = read_store(spark, store).count()
        total_emitted = sum(emitted)
        # without compaction the store would hold every emitted row
        assert store_rows < total_emitted
        # bounded: latest-per-key snapshot + at most compact_every-1
        # trailing appends of <= n_keys changed rows each
        assert store_rows <= n_keys * compact_every
        # logical snapshot file count is bounded too
        snap_files = TxTable(store).snapshot_files()
        assert len(snap_files) <= 4 * compact_every
        # physical trim: vacuum keeps at most ~2 compaction cycles of
        # files on disk (removed files retained one version for pinned
        # readers, then deleted) — so disk lags the logical snapshot
        # but does NOT accumulate the whole append history
        disk_files = [
            f
            for root, _, names in os.walk(store)
            for f in names
            if f.endswith(".parquet")
        ]
        ever_added = sum(
            1
            for v in TxTable(store).versions()
            for a in TxTable(store)._read_commit(v)
            if "add" in a
        )
        assert len(disk_files) < ever_added  # vacuum really deleted
        assert len(disk_files) <= 12 * compact_every

        # correctness preserved through compaction
        got = {
            (r.user_id, r.n)
            for r in read_latest(spark, store, ["user_id"])
            .select("user_id", "n")
            .collect()
        }
        want = {
            (r.user_id, r.n)
            for r in ev.groupBy("user_id").agg(F.count(F.lit(1)).alias("n")).collect()
        }
        assert got == want
    finally:
        for d in (base, store, ckpt):
            shutil.rmtree(d, ignore_errors=True)


def test_concurrent_reader_during_compaction(spark, tmp_path):
    """Round-4 verdict #2: a reader racing a compaction must NEVER
    observe an empty or partial store. The store is driven through 16
    upsert batches (4 compaction rewrites) while a reader thread
    continuously takes latest-per-key snapshots; every snapshot must
    contain the full key set with internally-consistent values."""
    import threading

    from streamprocess_spark.streaming.upsert import (
        compacting_upsert_writer,
        read_latest,
    )

    n_keys, n_batches, compact_every = 100, 16, 4
    store = str(tmp_path / "store")
    upsert = compacting_upsert_writer(store, ["k"], compact_every)

    done = threading.Event()
    violations: list[str] = []
    snapshots = [0]

    def reader():
        while not done.is_set():
            try:
                rows = (
                    read_latest(spark, store, ["k"])
                    .select("k", "v")
                    .collect()
                )
            except ValueError:
                continue  # store not created yet (version -1): fine
            snapshots[0] += 1
            ks = {r.k for r in rows}
            if len(rows) != n_keys or ks != set(range(n_keys)):
                violations.append(
                    f"partial snapshot: {len(rows)} rows, "
                    f"missing={sorted(set(range(n_keys)) - ks)[:5]}"
                )
                done.set()

    t = threading.Thread(target=reader, daemon=True)
    t.start()
    try:
        for b in range(n_batches):
            df = spark.range(n_keys).select(
                F.col("id").alias("k"), F.lit(b).alias("v")
            )
            upsert(df, b)
    finally:
        done.set()
        t.join(timeout=60)
    assert not violations, violations[0]
    # the reader actually raced the writer (and at least one rewrite)
    assert snapshots[0] >= 3
    final = {
        (r.k, r.v)
        for r in read_latest(spark, store, ["k"]).select("k", "v").collect()
    }
    assert final == {(k, n_batches - 1) for k in range(n_keys)}
