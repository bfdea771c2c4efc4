"""The flagship query the pipeline tests run: priority_queue jobs →
``sessionize_stream`` → result_store, keyed `{session_id}_{offset}`
like the reference (stt_worker.py:296-300).

Run as a module, it is the process the crash-restart test kills and
restarts: it serves the query on a plain ``get_spark()`` session until
it is killed or, with ``--lines``, until every enqueued line is
committed::

    python -m tests.flagship_query --queue Q --results R --ckpt C \\
        --max-records 24 [--lines N]
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

_PAYLOAD_SCHEMA = T.StructType(
    [
        T.StructField("seq", T.LongType()),
        T.StructField("offset_ms", T.LongType()),
        T.StructField("is_final", T.BooleanType()),
        T.StructField("samples", T.ArrayType(T.FloatType())),
    ]
)

# a run that neither drains nor gets killed in this time exits 1
SERVE_TIMEOUT_S = 240.0

# result payload columns, compared against sessionize_batch's rows
PAYLOAD_COLUMNS = ("session_id", "segment_idx", "n_samples", "is_partial",
                   "trigger", "transcript")


def enqueue_chunks(qdir: str, chunks) -> int:
    """Producer edge: chunk rows → job envelopes in the priority logs
    (the gRPC server's enqueue path, server.py:99-108 + add_job). A
    session's chunks all go to one priority, in seq order."""
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


def start_query(spark, qdir: str, rdir: str, ckpt: str,
                max_records_per_batch: int = 0):
    register_queue_source(spark)
    register_result_sink(spark)
    jobs = (spark.readStream.format("priority_queue").option("path", qdir)
            .option("max_records_per_batch", str(max_records_per_batch))
            .load())
    chunk_stream = (
        jobs.filter(F.col("type") == "stt_chunk")
        .select(
            F.split(F.col("job_id"), "-")[0].alias("session_id"),
            F.from_json("payload", _PAYLOAD_SCHEMA).alias("p"),
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
        .trigger(processingTime="200 milliseconds")
        .start()
    )


def _lines_committed(ckpt: str) -> tuple[int, int]:
    """(last committed batch id, queue lines read up to it) from the
    checkpoint; (-1, 0) before the first commit."""
    commits = os.path.join(ckpt, "commits")
    done = ([int(f) for f in os.listdir(commits) if f.isdigit()]
            if os.path.isdir(commits) else [])
    if not done:
        return -1, 0
    with open(os.path.join(ckpt, "offsets", str(max(done)))) as f:
        end = json.loads(f.read().splitlines()[-1])
    return max(done), sum(int(end.get(p, 0)) for p in PRIORITIES)


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

    spark = get_spark(app_name="flagship-query")
    spark.sparkContext.setLogLevel("ERROR")
    query = start_query(spark, args.queue, args.results, args.ckpt,
                        args.max_records)
    deadline = time.time() + SERVE_TIMEOUT_S
    drained_at = None
    try:
        while time.time() < deadline and query.isActive:
            lp = query.lastProgress
            if args.lines is not None and drained_at is None:
                batch, lines = _lines_committed(args.ckpt)
                if lines >= args.lines:
                    drained_at = batch
            # stop in the gap after an idle trigger, so no batch is
            # mid-commit when stop() lands
            elif (drained_at is not None and lp is not None
                    and lp["batchId"] > drained_at and lp["numInputRows"] == 0):
                return 0
            time.sleep(0.05)
        if query.exception() is not None:
            print(query.exception(), file=sys.stderr)
        return 1
    finally:
        query.stop()
        spark.stop()


if __name__ == "__main__":
    sys.exit(main())
