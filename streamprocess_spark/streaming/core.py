"""Structured Streaming core: deterministic file-replay of the events
table and a run-to-convergence harness (SURVEY M3).

Determinism contract (SURVEY §5): streaming queries are verified on
CONVERGED state after a full replay — event-time only, never
wall-clock. Trigger.AvailableNow processes the whole backlog in
micro-batches and terminates, so the memory-sink contents are a pure
function of the input files.

Watermark flush: in append mode, windows whose end is beyond
(max event time − watermark delay) are withheld. A far-future
sentinel row advances the watermark past every real window; the
sentinel is filtered out AFTER withWatermark so it moves the
watermark without entering any aggregate. This mirrors the
reference's end-of-stream flush (`is_final` → _finalize_session,
stt_worker.py:396-417).
"""

from __future__ import annotations

import contextlib
import os
import shutil
import tempfile
import uuid
from collections.abc import Iterator

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocess_spark.schemas import EVENTS

SENTINEL_USER = -1

# Telemetry from the most recent run_to_completion call (micro-batch
# count etc.). bench.py reads this after timing a streaming replay so
# the committed artifact can adjudicate a slow reading from the
# artifact alone (round-9 verdict #1: identical batch counts + two
# slow passes = host noise; divergent counts = investigate). Builders'
# signatures stay untouched.
LAST_RUN: dict = {}


@contextlib.contextmanager
def events_stream(
    spark: SparkSession,
    sf_dir: str,
    with_sentinel: bool = False,
) -> Iterator[DataFrame]:
    """File-replay stream of events.parquet. The parquet is staged into
    a temp dir (one file = one micro-batch backlog unit) that is removed
    when the ``with`` block exits, so run the query inside it;
    with_sentinel adds a far-future row to flush append-mode
    watermarks."""
    from streamprocess_spark.io.tables import table_path

    with tempfile.TemporaryDirectory(prefix="spstream_") as tmp:
        src = table_path(sf_dir, "events")  # µs-precision staged copy
        shutil.copy(src, os.path.join(tmp, "part-000.parquet"))
        if with_sentinel:
            sent = spark.createDataFrame(
                [(int(-1), "2100-01-01 00:00:00", int(SENTINEL_USER), "__sentinel__", 0.0, "{}")],
                "event_id long, ts string, user_id long, event_type string, value double, props string",
            ).withColumn("ts", F.col("ts").cast("timestamp"))
            sent.coalesce(1).write.mode("append").parquet(tmp)
        yield spark.readStream.schema(EVENTS).parquet(tmp)


def run_to_completion(
    stream_df: DataFrame, output_mode: str = "complete"
) -> DataFrame:
    """Run a streaming DataFrame to convergence with AvailableNow into
    a memory sink; return the converged result as a batch DataFrame.
    The memory sink holds its rows in the driver, so the query's
    checkpoint is removed once the query has ended. The returned
    DataFrame's analyzed plan holds the sink itself, so the sink's temp
    view is dropped: its rows live only as long as the result does."""
    name = "sink_" + uuid.uuid4().hex[:12]
    with tempfile.TemporaryDirectory(prefix="spckpt_") as ckpt:
        q = (
            stream_df.writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .option("checkpointLocation", ckpt)
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    lp = q.lastProgress
    LAST_RUN.clear()
    # batchId is 0-based and monotone within one query; +1 = number of
    # micro-batches the AvailableNow replay actually ran
    LAST_RUN["batches"] = (int(lp["batchId"]) + 1) if lp else 0
    spark = stream_df.sparkSession
    result = spark.table(name)
    spark.catalog.dropTempView(name)
    return result
