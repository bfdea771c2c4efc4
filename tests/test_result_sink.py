"""End-to-end custom-connector pipeline (SURVEY §2.1 S7→S9/S10/S12):
jobs enqueued into the priority_queue source, streamed through a
transform, delivered to the result_store sink; results retrievable by
point lookup, batch markers present, TTL vacuum removes expired
entries."""

from __future__ import annotations

import os
import time

from pyspark.sql import functions as F

from streamprocess_spark.io.queue_source import enqueue_job, register_queue_source
from streamprocess_spark.io.result_sink import (
    read_result,
    register_result_sink,
    vacuum,
    wait_for_result,
)


def test_queue_to_result_store_roundtrip(spark, tmp_path):
    qdir = str(tmp_path / "q")
    rdir = str(tmp_path / "r")
    ckpt = str(tmp_path / "ckpt")
    for i in range(4):
        enqueue_job(
            qdir,
            "high" if i % 2 == 0 else "normal",
            {"job_id": f"job-{i}", "type": "stt_batch", "enqueued_at": float(i)},
        )
    register_queue_source(spark)
    register_result_sink(spark)

    jobs = spark.readStream.format("priority_queue").option("path", qdir).load()
    results = jobs.select(
        "job_id",
        "type",
        "priority",
        F.upper("job_id").alias("transcript"),  # stand-in transform
    )
    query = (
        results.writeStream.format("result_store")
        .option("path", rdir)
        .option("ttl_s", "3600")
        .option("checkpointLocation", ckpt)
        .trigger(processingTime="200 milliseconds")
        .start()
    )
    try:
        doc = wait_for_result(rdir, "job-3", timeout_s=30.0)
        assert doc is not None
        assert doc["payload"]["transcript"] == "JOB-3"
        assert doc["payload"]["priority"] == "normal"
        for i in range(4):
            assert wait_for_result(rdir, f"job-{i}", timeout_s=10.0) is not None
        # commit markers recorded per micro-batch (lands after the
        # whole batch finishes, a beat after the first upserts appear)
        marker_dir = os.path.join(rdir, "_commits")
        deadline = time.time() + 20
        while time.time() < deadline and not (
            os.path.isdir(marker_dir) and os.listdir(marker_dir)
        ):
            time.sleep(0.2)
        assert os.listdir(marker_dir)
        # late job flows through the running query
        enqueue_job(qdir, "realtime", {"job_id": "job-late", "type": "stt_chunk"})
        assert wait_for_result(rdir, "job-late", timeout_s=30.0) is not None
    finally:
        query.stop()

    # S10 miss behavior + S12 TTL sweep
    assert read_result(rdir, "no-such-job") is None
    n = vacuum(rdir, now=time.time() + 7200)
    assert n == 5
    assert read_result(rdir, "job-0") is None


def test_abort_sweeps_tmp_keeps_results(tmp_path):
    """An aborted micro-batch must leave only well-formed results:
    completed keyed upserts survive (SETEX posture), orphaned tmp
    spool files from tasks killed mid-write are swept."""
    import json
    import os

    from streamprocess_spark.io.result_sink import (
        ResultStoreStreamWriter,
        read_result,
    )

    store = str(tmp_path / "r")
    os.makedirs(store)
    with open(os.path.join(store, "result-a.json"), "w") as f:
        json.dump({"job_id": "a", "payload": {}, "expires_at": 1e18}, f)
    # orphan from a task killed between open() and os.replace()
    with open(os.path.join(store, "result-b.json.tmp.12345"), "w") as f:
        f.write('{"half')

    w = ResultStoreStreamWriter({"path": store})
    w.abort([], batchId=7)

    assert read_result(store, "a") is not None
    leftovers = [fn for fn in os.listdir(store) if ".tmp." in fn]
    assert leftovers == []
    # every surviving result-* file parses
    for fn in os.listdir(store):
        if fn.startswith("result-"):
            json.load(open(os.path.join(store, fn)))


def test_commit_sweeps_only_the_spool_dir(tmp_path, monkeypatch):
    """A trigger's commit lists the spool dir, never the store root
    (which grows by one file per result), and still sweeps a stale
    spool file while keeping a fresh one."""
    import pyarrow as pa

    from streamprocess_spark.io.result_sink import ResultStoreStreamWriter

    store = str(tmp_path / "r")
    spool = os.path.join(store, "_tmp")
    w = ResultStoreStreamWriter({"path": store})
    w.write(iter([pa.RecordBatch.from_pylist([{"job_id": "a", "x": 1}])]))
    assert os.listdir(spool) == [] and read_result(store, "a") is not None
    stale = os.path.join(spool, "result-b.json.tmp.1")
    fresh = os.path.join(spool, "result-c.json.tmp.1")
    for fn in (stale, fresh):
        open(fn, "w").close()
    os.utime(stale, (time.time() - 600,) * 2)

    listed = []
    real_listdir, real_scandir = os.listdir, os.scandir
    monkeypatch.setattr(os, "listdir",
                        lambda p=".": listed.append(p) or real_listdir(p))
    monkeypatch.setattr(os, "scandir",
                        lambda p=".": listed.append(p) or real_scandir(p))
    w.commit([], batchId=0)
    monkeypatch.undo()

    assert store not in listed and os.path.join(store, "") not in listed
    assert spool in listed
    assert os.listdir(spool) == ["result-c.json.tmp.1"]
