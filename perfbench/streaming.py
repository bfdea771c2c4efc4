"""The streaming workload ``serve_20``: queue source →
``applyInPandasWithState`` sessionizer → result-store sink, the
product's flagship pipeline, served open loop. A separate generator
process offers 20 live sessions at one chunk per session per 100 ms, and
latency runs from each result's closing chunk's due time to the result
file's write time.
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

from perfbench import chunks as C
from perfbench.measure import (
    check_segments,
    pct,
    read_results,
    reference_segments,
    segment_latencies,
)

TRIGGER = "200 milliseconds"      # the shipped processingTime trigger
PAYLOAD_SCHEMA = "seq long, offset_ms long, is_final boolean, samples array<float>"
SERVE_SESSIONS = 20               # live sessions, one chunk each per 100 ms
SERVE_WARM_S = 20.0               # live load before the measurement mark


class Pipeline:
    """Builds and starts the flagship streaming query. Traced runs use
    the benchmark's traced source, sink and group function."""

    def __init__(self, spark, qdir: str, span_dir: str | None = None):
        from streamprocess_spark.io.queue_source import register_queue_source
        from streamprocess_spark.io.result_sink import register_result_sink
        from streamprocess_spark.streaming.sessionizer import DEFAULT_CONFIG

        if (DEFAULT_CONFIG.chunk_ms, DEFAULT_CONFIG.chunk_samples) != (
                C.CHUNK_MS, C.CHUNK_SAMPLES):
            raise RuntimeError("perfbench.chunks no longer matches DEFAULT_CONFIG")
        self.spark, self.qdir, self.span_dir = spark, qdir, span_dir
        if span_dir:
            from perfbench.layers import register_traced

            register_traced(spark)
            self.source, self.sink = "perfbench_queue", "perfbench_results"
        else:
            register_queue_source(spark)
            register_result_sink(spark)
            self.source, self.sink = "priority_queue", "result_store"

    def _sessionize(self, chunk_stream):
        from streamprocess_spark.streaming.sessionizer import (
            DEFAULT_CONFIG,
            sessionize_stream,
        )

        if not self.span_dir:
            return sessionize_stream(chunk_stream, DEFAULT_CONFIG)
        # sessionize_stream's body with the group function wrapped
        from pyspark.sql.streaming.state import GroupStateTimeout

        from streamprocess_spark.session import ensure_workers_can_import
        from streamprocess_spark.streaming.sessionizer import (
            DEFAULT_IDLE_MS,
            SEGMENT_SCHEMA_DDL,
            STATE_SCHEMA_DDL,
            sessionize_stream_fn,
        )

        from perfbench.layers import timed_group_fn

        ensure_workers_can_import(chunk_stream.sparkSession)
        return chunk_stream.groupBy("session_id").applyInPandasWithState(
            timed_group_fn(sessionize_stream_fn(DEFAULT_CONFIG, DEFAULT_IDLE_MS),
                           self.span_dir),
            outputStructType=SEGMENT_SCHEMA_DDL,
            stateStructType=STATE_SCHEMA_DDL,
            outputMode="append",
            timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )

    def build(self):
        from pyspark.sql import functions as F

        reader = self.spark.readStream.format(self.source).option("path", self.qdir)
        if self.span_dir:
            reader = reader.option("span_dir", self.span_dir)
        chunk_stream = (
            reader.load()
            .filter(F.col("type") == "stt_chunk")
            .select(
                F.split(F.col("job_id"), "-")[0].alias("session_id"),
                F.from_json("payload", PAYLOAD_SCHEMA).alias("p"),
            )
            .select("session_id", "p.seq", "p.offset_ms", "p.is_final", "p.samples")
        )
        return self._sessionize(chunk_stream).select(
            F.concat_ws("_", "session_id", "start_offset_ms").alias("job_id"),
            F.to_json(F.struct("segment_idx", "start_offset_ms", "end_offset_ms",
                               "n_samples", "trigger")).alias("payload"),
        )

    def start(self, segments, rdir: str, ckpt: str):
        w = (segments.writeStream.format(self.sink)
             .option("path", rdir)
             .option("checkpointLocation", ckpt)
             .trigger(processingTime=TRIGGER))
        if self.span_dir:
            w = w.option("span_dir", self.span_dir)
        return w.start()


def _records(query, listener) -> list[dict]:
    """Per-trigger records of one query: from the benchmark's listener
    in traced runs, else from the query's recent progress."""
    from perfbench.sparkrun import trigger_record

    if listener is None:
        return [trigger_record(p) for p in query.recentProgress]
    run_id = str(query.runId)
    last = (query.lastProgress or {}).get("batchId", -1)
    deadline = time.time() + 5
    while time.time() < deadline and not any(
            r["run_id"] == run_id and r["batch_id"] >= last for r in listener.snapshot()):
        time.sleep(0.05)
    return [r for r in listener.snapshot() if r["run_id"] == run_id]


def _build_timed(run, pipe):
    t0 = time.perf_counter()
    n0 = run.py4j.n if run.py4j else 0
    segments = pipe.build()
    run.plan_build.append(((time.perf_counter() - t0) * 1000.0,
                           (run.py4j.n - n0) if run.py4j else 0))
    return segments


def serve(run) -> dict:
    """Open-loop serving of 20 concurrent sessions; latency is measured
    for chunks due in the ``run.seconds`` after the mark."""
    from perfbench.sparkrun import wait_offsets

    qdir, rdir, ckpt = (run.path(n) for n in ("queue", "results", "ckpt"))
    pipe = Pipeline(run.spark, qdir, run.span_dir)

    # Warm-up, part 1: a backlog of 520 chunks from short sessions
    # goes through the cold first trigger (Python workers, state store,
    # source runner, per-row code paths). Starting the generator only
    # after it completes puts every run's window at the same point of
    # the pipeline's warm-up, however long the cold trigger took.
    t_gen = time.perf_counter()
    warm = C.ServeSchedule(run.seed + 1, n_live=SERVE_SESSIONS, min_chunks=3, max_chunks=30,
                           prefix="w")
    warm_chunks = [c for _ in range(25) for c in warm.tick(time.time())]
    n_warm = C.append_chunks(qdir, warm_chunks + warm.close(time.time()))
    run.setup["data_gen_s"] = time.perf_counter() - t_gen
    query = pipe.start(_build_timed(run, pipe), rdir, ckpt)
    wait_offsets(query, n_warm, timeout_s=90)

    # Part 2: SERVE_WARM_S of live load before the mark.
    ticks = int(round((SERVE_WARM_S + run.seconds) * 10))
    summary = run.path("gen.json")
    gen = subprocess.Popen(
        [sys.executable, "-m", "perfbench.gen", "--dir", qdir, "--seed", str(run.seed),
         "--ticks", str(ticks), "--summary", summary, "--sessions", str(SERVE_SESSIONS)],
        cwd=run.root)
    try:
        while not os.path.exists(summary):
            if gen.poll() is not None:
                raise RuntimeError("load generator exited before starting")
            time.sleep(0.01)
        with open(summary) as f:
            mark = json.load(f)["t0"] + SERVE_WARM_S
        time.sleep(max(0.0, mark - time.time()))
        run.end_setup()
        gen.wait(timeout=run.seconds + 30)
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    if gen.returncode != 0:
        raise RuntimeError(f"load generator failed with code {gen.returncode}")
    with open(summary) as f:
        gsum = json.load(f)
    wait_offsets(query, n_warm + gsum["lines"], timeout_s=60)
    run.end_measured()
    # Every line is read and its results committed; a trigger still
    # running now has no input and produces nothing, so stop at once.
    query.stop()
    triggers = _records(query, run.listener)

    # --- output checks and latency, outside the timed region
    logged = C.read_logged_chunks(qdir)
    t_ref = time.perf_counter()
    reference = reference_segments(logged)
    run.layer["reference.sessionize_batch_s"] = time.perf_counter() - t_ref
    delivered, n_written = read_results(rdir)
    attempted, failed = check_segments(delivered, n_written, reference)
    due_of = {(c["session_id"], c["offset_ms"]): (c["due"], c["is_final"]) for c in logged}
    lat_all, lat_final, unmatched = segment_latencies(delivered, due_of)
    def in_window(samples):
        return [ms for due, ms in samples if mark <= due < mark + run.seconds]

    seg_ms, fin_ms = in_window(lat_all), in_window(lat_final)
    run.attempted += attempted
    run.failed += failed + unmatched

    late_ms = [(w - d) * 1000.0 for d, w, _ in gsum["ticks"] if mark <= d < mark + run.seconds]
    measured = [t for t in triggers if mark <= t["start"] < mark + run.seconds]
    lag = [n_warm + _lines_written_by(gsum, t["end"]) - t["end_offset"] for t in measured]
    run.layer.update({
        "gen.late_ms_p50": pct(late_ms, 50),
        "gen.late_ms_max": max(late_ms),
        "queue_source.lag_rows": float(lag[-1]) if lag else 0.0,
        "queue_source.lag_rows_max": float(max(lag)) if lag else 0.0,
    })
    run.triggers = measured
    run.window = (mark, mark + run.seconds)
    run.stderr("serve_20 triggers (start after mark s, execution ms, rows): " + " ".join(
        f"{t['start'] - mark:.1f}/{t['execution_ms']:.0f}/{t['rows']}" for t in triggers))
    run.stderr(f"serve_20: {len(seg_ms)} segments ({len(fin_ms)} final) in window, "
               f"{len(measured)} triggers, {gsum['lines']} chunks offered, "
               f"lag end/max {run.layer['queue_source.lag_rows']:.0f}/"
               f"{run.layer['queue_source.lag_rows_max']:.0f} rows, "
               f"generator late p50/max {run.layer['gen.late_ms_p50']:.1f}/"
               f"{run.layer['gen.late_ms_max']:.1f} ms")
    return {"latency": seg_ms, "final_latency": fin_ms}


def _lines_written_by(gsum: dict, t: float) -> int:
    n = 0
    for _due, written, cum in gsum["ticks"]:
        if written > t:
            break
        n = cum
    return n
