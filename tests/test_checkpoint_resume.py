"""Checkpoint recovery = the reference's ack/offset-commit semantics
(SURVEY S7/S8: XREADGROUP + XACK → Structured Streaming offset log).
A streaming aggregation is run over a growing directory with the SAME
checkpoint: the second run must pick up exactly the new files — no
reprocessing (no double counts), no loss."""

from __future__ import annotations

import os
import shutil
import tempfile
import uuid

from pyspark.sql import functions as F

from bench import _spark_conf
from streamprocess_spark.schemas import EVENTS
from streamprocess_spark.session import default_parallelism
from streamprocess_spark.streaming.flagship import recorded_state_partitions
from tests.conftest import SF_DIR

STATE_PARTITIONS = "spark.sql.streaming.internal.stateStore.partitions"


def _add_file(df, base: str, src_dir: str, name: str) -> None:
    """Write ``df`` as one parquet file and move it into the source dir
    in one step, so the stream never sees a half-written file."""
    stage = os.path.join(base, "stage_" + name)
    df.coalesce(1).write.parquet(stage)
    part = next(f for f in os.listdir(stage) if f.endswith(".parquet"))
    shutil.move(os.path.join(stage, part), os.path.join(src_dir, name))


def _run_counts(spark, src_dir: str, ckpt: str) -> dict:
    """One availableNow run of a per-event_type count over the source
    dir on the given checkpoint; returns the converged counts."""
    stream = spark.readStream.schema(EVENTS).parquet(src_dir)
    counts = stream.groupBy("event_type").agg(F.count(F.lit(1)).alias("n"))
    name = "ckptsink_" + uuid.uuid4().hex[:8]
    q = (
        counts.writeStream.format("memory")
        .queryName(name)
        .outputMode("complete")
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination()
    return {r.event_type: r.n for r in spark.table(name).collect()}


def _batch_counts(df) -> dict:
    return {
        r.event_type: r.n
        for r in df.groupBy("event_type").agg(F.count(F.lit(1)).alias("n")).collect()
    }


def _state_partitions(ckpt: str) -> list[int]:
    return sorted(int(d) for d in os.listdir(os.path.join(ckpt, "state", "0"))
                  if d.isdigit())


def _offset_log_conf(ckpt: str, batch: int) -> str:
    with open(os.path.join(ckpt, "offsets", str(batch))) as f:
        return f.read()


def test_exactly_once_across_restarts(spark):
    from streamprocess_spark.io.tables import table_path

    base = tempfile.mkdtemp(prefix="spckptres_")
    src_dir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src_dir)
    try:
        ev = spark.read.parquet(table_path(SF_DIR, "events"))
        first = ev.filter(F.col("event_id") % 2 == 0)
        second = ev.filter(F.col("event_id") % 2 == 1)
        _add_file(first, base, src_dir, "a.parquet")
        assert _run_counts(spark, src_dir, ckpt) == _batch_counts(first)

        # "restart": new files arrive, same checkpoint — state resumes
        _add_file(second, base, src_dir, "b.parquet")
        # exactly-once: totals equal the full batch answer — the first
        # file was not re-read (which would double counts) nor skipped
        assert _run_counts(spark, src_dir, ckpt) == _batch_counts(ev)
    finally:
        shutil.rmtree(base, ignore_errors=True)


def test_session_has_one_state_partition_per_core(spark):
    assert spark.conf.get(STATE_PARTITIONS) == str(default_parallelism())


def test_state_partition_count_is_frozen_into_the_checkpoint(spark):
    """A new checkpoint takes its state-partition count from the
    session's internal stateStore.partitions conf, not from the batch
    shuffle count, and records it in the offset log as the query's
    spark.sql.shuffle.partitions. A restart keeps the recorded count
    whatever the session asks for, and the flagship's restart check
    reads it back from the newest offset log. A Spark upgrade that drops or renames
    the internal conf fails the first half."""
    from streamprocess_spark.io.tables import table_path

    assert spark.conf.get("spark.sql.shuffle.partitions") == "8"
    base = tempfile.mkdtemp(prefix="spstateparts_")
    src_dir = os.path.join(base, "in")
    ckpt = os.path.join(base, "ckpt")
    os.makedirs(src_dir)
    try:
        ev = spark.read.parquet(table_path(SF_DIR, "events"))
        first = ev.filter(F.col("event_id") % 2 == 0)
        _add_file(first, base, src_dir, "a.parquet")
        with _spark_conf(spark, {STATE_PARTITIONS: "3"}):
            assert _run_counts(spark, src_dir, ckpt) == _batch_counts(first)
        assert _state_partitions(ckpt) == [0, 1, 2]
        assert '"spark.sql.shuffle.partitions":"3"' in _offset_log_conf(ckpt, 0)

        _add_file(ev.filter(F.col("event_id") % 2 == 1), base, src_dir,
                  "b.parquet")
        with _spark_conf(spark, {STATE_PARTITIONS: "2"}):
            assert _run_counts(spark, src_dir, ckpt) == _batch_counts(ev)
        assert _state_partitions(ckpt) == [0, 1, 2]
        assert '"spark.sql.shuffle.partitions":"3"' in _offset_log_conf(ckpt, 1)
        assert recorded_state_partitions(ckpt) == 3
    finally:
        shutil.rmtree(base, ignore_errors=True)
