"""Stateful operators whose state rows hold no array column: Spark
re-plans ``applyInPandasWithState`` on every trigger, and an array
field in the state schema made the state encoder's generated code
differ each time, so Janino compiled it again on every trigger. These
tests read the JVM's compile counter across micro-batches and require
it to stay put once the first batches have warmed the codegen cache,
and pin that a checkpoint written with the old array layout fails
loudly on restart."""

from __future__ import annotations

import time

import pandas as pd
import pytest
from pyspark.errors import StreamingQueryException

from streamprocess_spark.io.tables import load_tables
from streamprocess_spark.streaming.flagship import enqueue_chunks, start_flagship
from streamprocess_spark.streaming.sessionizer import (
    CHUNK_SCHEMA,
    DEFAULT_CONFIG,
    SEGMENT_SCHEMA,
    SEGMENT_SCHEMA_DDL,
    chunks_from_events,
    sessionize_stream,
)
from tests.conftest import SF_DIR

# batches after the warm-up batch whose compiles are counted
MEASURED_BATCHES = 3


def _compiles(spark) -> int:
    """Classes Janino has compiled in this JVM so far."""
    metrics = spark._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()


def test_flagship_state_encoder_is_compiled_once(spark, tmp_path):
    """queue → sessionizer → result store over several triggers: after
    batch 1 no trigger compiles new code."""
    ev = load_tables(spark, SF_DIR)["events"]
    chunks = chunks_from_events(ev, DEFAULT_CONFIG, max_users=6)
    enqueue_chunks(str(tmp_path / "q"), chunks)
    # 24 queue lines per trigger: the ~380-line backlog spans ~16
    query = start_flagship(spark, str(tmp_path / "q"), str(tmp_path / "r"),
                           str(tmp_path / "ckpt"), max_records_per_batch=24)
    try:
        marks: list[tuple[int, int]] = []  # (batch id, compiles so far)
        deadline = time.time() + 120
        while len(marks) < 2 and query.isActive and time.time() < deadline:
            lp = query.lastProgress
            if (lp is not None and lp["numInputRows"] > 0 and lp["batchId"] >= 1
                    and (not marks
                         or lp["batchId"] >= marks[0][0] + MEASURED_BATCHES)):
                marks.append((lp["batchId"], _compiles(spark)))
            time.sleep(0.02)
        assert query.exception() is None, query.exception()
        assert len(marks) == 2, f"pipeline stalled: {marks}"
        (first, c1), (last, c2) = marks
        assert c2 == c1, (
            f"{c2 - c1} classes compiled between batch {first} and {last}")
    finally:
        query.stop()


def test_blend_state_encoder_is_compiled_once(spark, tmp_path):
    """The autoscaler's blend state carries its regression history as
    bytes too: one metrics file per trigger, no compile after batch 1."""
    from streamprocess_spark.streaming.autoscaler import (
        blended_stream_decisions,
    )

    t0 = 1_700_000_000.0
    n_files = MEASURED_BATCHES + 2
    src = tmp_path / "metrics"
    src.mkdir()
    for f in range(n_files):
        ws = [t0 + (3 * f + i) * 120.0 for i in range(3)]
        pd.DataFrame({
            "worker_type": ["stt"] * 3,
            "window_start": pd.to_datetime(ws, unit="s").astype("datetime64[us]"),
            "ws_epoch": ws,
            "t_rel": [w - t0 for w in ws],
            "rate": [3.0 + f, 8.0 - f, 2.5],
            "queue_depth": [f, 0, 1],
        }).to_parquet(src / f"part-{f:03d}.parquet")
    schema = ("worker_type string, window_start timestamp, ws_epoch double, "
              "t_rel double, rate double, queue_depth long")
    mstream = (spark.readStream.schema(schema)
               .option("maxFilesPerTrigger", 1).parquet(str(src)))
    counts: list[int] = []

    def after_batch(df, _batch_id):
        df.collect()  # runs the stateful operator for this batch
        counts.append(_compiles(spark))

    q = (blended_stream_decisions(mstream).writeStream
         .foreachBatch(after_batch)
         .option("checkpointLocation", str(tmp_path / "ckpt"))
         .trigger(availableNow=True)
         .start())
    q.awaitTermination(180)
    assert q.exception() is None, q.exception()
    assert len(counts) == n_files, counts
    assert counts[-1] == counts[1], f"compiles after each batch: {counts}"


OLD_STATE_SCHEMA_DDL = (
    "buf array<float>, buf_start_ms long, silence_run_ms int, "
    "in_speech boolean, seg_idx int, context array<string>"
)


@pytest.mark.slow
def test_array_layout_checkpoint_fails_loudly(spark, tmp_path):
    """A checkpoint whose sessionizer state was written with the array
    layout is refused on restart instead of being misread."""
    in_dir, ckpt = str(tmp_path / "in"), str(tmp_path / "ckpt")

    def write_chunks(seq: int) -> None:
        row = ("s", seq, pd.Timestamp("2024-01-01").to_pydatetime(),
               seq * 100, 100, [0.5] * DEFAULT_CONFIG.chunk_samples, False)
        spark.createDataFrame([row], CHUNK_SCHEMA).coalesce(1).write.mode(
            "append").parquet(in_dir)

    def old_layout_fn(key, pdfs, state):
        for _ in pdfs:
            pass
        state.update(([0.5, 0.25], 0, 0, True, 0, ["seg-0"]))
        yield pd.DataFrame([], columns=[f.name for f in SEGMENT_SCHEMA])

    def run(segments):
        q = (segments.writeStream.format("noop")
             .option("checkpointLocation", ckpt)
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        return q

    write_chunks(0)
    stream = spark.readStream.schema(CHUNK_SCHEMA).parquet(in_dir)
    old = run(stream.groupBy("session_id").applyInPandasWithState(
        old_layout_fn, outputStructType=SEGMENT_SCHEMA_DDL,
        stateStructType=OLD_STATE_SCHEMA_DDL, outputMode="append",
        timeoutConf="NoTimeout"))
    assert old.exception() is None, old.exception()

    write_chunks(1)
    with pytest.raises(StreamingQueryException,
                       match="STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE"):
        run(sessionize_stream(stream, DEFAULT_CONFIG, timeout="NoTimeout"))
