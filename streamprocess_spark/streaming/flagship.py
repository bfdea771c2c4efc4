"""The flagship pipeline, wired once: queue → sessionizer → result store.

priority_queue jobs go through ``sessionize_stream`` into result_store,
keyed `{session_id}_{offset}` like the reference worker loop
(stt_worker.py:92-113, 296-300).

Run as a module, it is the serving worker process: it serves the query
on a plain ``get_spark()`` session until it is killed or, with
``--lines``, until every enqueued line is committed::

    python -m streamprocess_spark.streaming.flagship --queue Q \\
        --results R --ckpt C --max-records 24 [--lines N]
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

from streamprocess_spark.io.queue_source import (
    PRIORITIES,
    enqueue_job,
    register_queue_source,
)
from streamprocess_spark.io.result_sink import register_result_sink
from streamprocess_spark.streaming.sessionizer import (
    DEFAULT_CONFIG,
    sessionize_stream,
)

# the `payload` of an `stt_chunk` job envelope
PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("offset_ms", T.LongType()),
        T.StructField("is_final", T.BooleanType()),
        T.StructField("samples", T.ArrayType(T.FloatType())),
    ]
)

TRIGGER = "200 milliseconds"

# stored with each result's job_id; sessionize_batch has the same columns
PAYLOAD_COLUMNS = ("session_id", "segment_idx", "n_samples", "is_partial",
                   "trigger", "transcript")

# a worker that neither drains nor gets killed in this time exits 1
SERVE_TIMEOUT_S = 240.0

_STATE_PARTITIONS = "spark.sql.streaming.internal.stateStore.partitions"


def enqueue_chunks(qdir: str, chunks) -> int:
    """Producer edge: chunk rows → job envelopes in the priority logs
    (the gRPC server's enqueue path, server.py:99-108 + add_job). A
    session's chunks all go to one priority, in seq order. Returns the
    number of queue lines written."""
    n = 0
    for row in chunks.orderBy("session_id", "seq").toLocalIterator():
        enqueue_job(
            qdir,
            PRIORITIES[int(row["session_id"]) % 4],
            {
                "job_id": f"{row['session_id']}-{row['seq']}",
                "type": "stt_chunk",
                "payload": {
                    "seq": row["seq"],
                    "offset_ms": row["offset_ms"],
                    "is_final": row["is_final"],
                    "samples": [float(x) for x in row["samples"]],
                },
            },
        )
        n += 1
    return n


def _log_batches(ckpt: str, log: str) -> list[int]:
    d = os.path.join(ckpt, log)
    return [int(f) for f in os.listdir(d) if f.isdigit()] if os.path.isdir(d) else []


def _offset_log(ckpt: str, batch: int) -> list[str]:
    with open(os.path.join(ckpt, "offsets", str(batch))) as f:
        return f.read().splitlines()


def recorded_state_partitions(ckpt: str) -> int | None:
    """The state-partition count the checkpoint was created with, read
    from its newest offset log, where Spark records it as the query's
    spark.sql.shuffle.partitions; None before the first offset log."""
    batches = _log_batches(ckpt, "offsets")
    if not batches:
        return None
    meta = json.loads(_offset_log(ckpt, max(batches))[1])
    return int(meta["conf"]["spark.sql.shuffle.partitions"])


def start_flagship(spark, qdir: str, rdir: str, ckpt: str,
                   max_records_per_batch: int = 0):
    """Start the flagship query: jobs from the queue at ``qdir``,
    results into ``rdir``, offsets and state in ``ckpt``, one trigger
    every TRIGGER. ``max_records_per_batch`` caps the queue lines a
    trigger reads (0: no cap). A restart keeps the state-partition
    count its checkpoint recorded, whatever the session asks for; when
    the two differ, one stderr line says so."""
    recorded = recorded_state_partitions(ckpt)
    wanted = (spark.conf.get(_STATE_PARTITIONS, None)
              or spark.conf.get("spark.sql.shuffle.partitions"))
    if recorded is not None and recorded != int(wanted):
        print(f"[flagship] checkpoint {ckpt} keeps its {recorded} state "
              f"partitions; the session asks for {wanted}", file=sys.stderr)
    register_queue_source(spark)
    register_result_sink(spark)
    jobs = (spark.readStream.format("priority_queue").option("path", qdir)
            .option("max_records_per_batch", str(max_records_per_batch))
            .load())
    chunk_stream = (
        jobs.filter(F.col("type") == "stt_chunk")
        .select(
            F.split(F.col("job_id"), "-")[0].alias("session_id"),
            F.from_json("payload", PAYLOAD_SCHEMA).alias("p"),
        )
        .select("session_id", "p.seq", "p.offset_ms", "p.is_final", "p.samples")
    )
    segments = sessionize_stream(chunk_stream, DEFAULT_CONFIG).select(
        F.concat_ws("_", "session_id", "start_offset_ms").alias("job_id"),
        *PAYLOAD_COLUMNS,
    )
    return (
        segments.writeStream.format("result_store")
        .option("path", rdir)
        .option("checkpointLocation", ckpt)
        .trigger(processingTime=TRIGGER)
        .start()
    )


def _lines_committed(ckpt: str) -> tuple[int, int]:
    """(last committed batch id, queue lines read up to it) from the
    checkpoint; (-1, 0) before the first commit."""
    done = _log_batches(ckpt, "commits")
    if not done:
        return -1, 0
    end = json.loads(_offset_log(ckpt, max(done))[-1])
    return max(done), sum(int(end.get(p, 0)) for p in PRIORITIES)


def drain_and_stop(query, ckpt: str, lines: int, timeout_s: float) -> int | None:
    """Wait until ``lines`` queue lines are committed and a later
    trigger has run idle, then stop ``query``. Returns the number of
    triggers run, or None when the query died or ``timeout_s`` passed
    first; the query is stopped either way.

    processAllAvailable() cannot do this: the sessionizer's armed
    processing-time timeout (T8) makes Spark plan a timeout-only
    micro-batch after every trigger, so the engine never reports that
    no new data is left (epochs advance ~1.6 s apart with zero input
    forever). Stopping while a trigger is mid-flight aborts its commit
    and logs errors, so stop in the gap after an idle trigger
    (numInputRows == 0) instead."""
    deadline = time.time() + timeout_s
    drained_at = None
    try:
        while time.time() < deadline and query.isActive:
            if drained_at is None:
                batch, done = _lines_committed(ckpt)
                if done >= lines:
                    drained_at = batch
            else:
                lp = query.lastProgress
                if (lp is not None and lp["batchId"] > drained_at
                        and lp["numInputRows"] == 0):
                    return lp["batchId"] + 1
            time.sleep(0.05)
        return None
    finally:
        query.stop()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--queue", required=True)
    ap.add_argument("--results", required=True)
    ap.add_argument("--ckpt", required=True)
    ap.add_argument("--max-records", type=int, required=True)
    ap.add_argument("--lines", type=int, default=None,
                    help="stop once this many queue lines are committed")
    args = ap.parse_args(argv)

    from streamprocess_spark import get_spark

    spark = get_spark(app_name="flagship")
    spark.sparkContext.setLogLevel("ERROR")
    query = start_flagship(spark, args.queue, args.results, args.ckpt,
                           args.max_records)
    try:
        if args.lines is None:
            query.awaitTermination(SERVE_TIMEOUT_S)
        elif drain_and_stop(query, args.ckpt, args.lines, SERVE_TIMEOUT_S):
            return 0
        if query.exception() is not None:
            print(query.exception(), file=sys.stderr)
        return 1
    finally:
        query.stop()
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
