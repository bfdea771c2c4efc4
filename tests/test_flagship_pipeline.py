"""Flagship §3.1 path end-to-end on ALL custom components: audio-chunk
jobs enqueued into the priority_queue DataSource (S6/S7), streamed
through the applyInPandasWithState sessionizer (T1-T9), segments
delivered to the result_store sink (S9) keyed `{session_id}_{offset}`
exactly like the reference (stt_worker.py:296-300). Converged results
must equal the batch sessionizer on the same chunks, also when the
serving process is killed mid-stream and restarted on its checkpoint."""

from __future__ import annotations

import contextlib
import json
import os
import random
import shutil
import signal
import stat
import subprocess
import sys
import time

from streamprocess_spark.io.result_sink import read_result
from streamprocess_spark.io.tables import load_tables
from pyspark.sql.types import StructType

from streamprocess_spark.streaming import flagship
from streamprocess_spark.streaming.flagship import (
    PAYLOAD_COLUMNS,
    enqueue_chunks,
    start_flagship,
)
from streamprocess_spark.streaming.sessionizer import (
    DEFAULT_CONFIG,
    chunks_from_events,
    sessionize_batch,
)
from tests.conftest import SF_DIR

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))

# kill point of the crash-restart test: after 1-4 committed triggers
CRASH_SEED = 6
# queue lines per trigger: the ~380-chunk backlog spans ~16 triggers
CRASH_MAX_RECORDS = 24


def _expected(chunks) -> dict:
    expected = {
        f"{r['session_id']}_{r['start_offset_ms']}": r
        for r in sessionize_batch(chunks, DEFAULT_CONFIG).collect()
    }
    assert expected, "batch sessionizer produced no segments"
    return expected


def test_queue_to_sessionizer_to_result_store(spark, tmp_path):
    qdir = str(tmp_path / "q")
    rdir = str(tmp_path / "r")
    ckpt = str(tmp_path / "ckpt")

    ev = load_tables(spark, SF_DIR)["events"]
    chunks = chunks_from_events(ev, DEFAULT_CONFIG, max_users=6)
    enqueue_chunks(qdir, chunks)
    query = start_flagship(spark, qdir, rdir, ckpt)
    try:
        expected = _expected(chunks)
        deadline = time.time() + 90
        missing = set(expected)
        while time.time() < deadline and missing:
            missing = {k for k in expected if read_result(rdir, k) is None}
            if missing:
                time.sleep(0.5)
        assert not missing, f"segments never delivered: {sorted(missing)[:5]}"

        for key, exp in expected.items():
            got = read_result(rdir, key)["payload"]
            assert got["transcript"] == exp["transcript"], key
            assert got["n_samples"] == exp["n_samples"], key
            assert got["trigger"] == exp["trigger"], key
    finally:
        query.stop()


def test_benchmark_serves_the_shipped_trigger_and_payload(spark):
    """perfbench keeps its own copy of the flagship wiring: serve_20
    must measure the trigger and chunk payload that the product ships."""
    from perfbench import streaming as serve

    assert serve.TRIGGER == flagship.TRIGGER
    assert StructType.fromDDL(serve.PAYLOAD_SCHEMA) == flagship.PAYLOAD_SCHEMA


def _log_entries(ckpt: str, log: str) -> int:
    d = os.path.join(ckpt, log)
    return sum(f.isdigit() for f in os.listdir(d)) if os.path.isdir(d) else 0


def _log_tail(path: str) -> str:
    with open(path) as f:
        return f.read()[-3000:]


def _chmod_shim(tmp_path) -> tuple[str, str]:
    """A `chmod` that logs its arguments and runs the real one:
    returns (dir to put first on PATH, log file)."""
    shim, log = tmp_path / "shim", tmp_path / "chmod.log"
    shim.mkdir()
    (shim / "chmod").write_text(
        f'#!/bin/sh\necho "$@" >> {log}\nexec {shutil.which("chmod")} "$@"\n')
    (shim / "chmod").chmod(0o755)
    return str(shim), str(log)


def _assert_checkpoint_files(ckpt: str) -> None:
    """Under umask 022: dirs 0755, files 0644; every offset and commit
    file has Hadoop's .crc, and every state delta also Spark's checksum
    sidecar with its own .crc."""
    deltas = 0
    for root, dirs, files in os.walk(ckpt):
        for d in dirs:
            assert stat.S_IMODE(os.stat(os.path.join(root, d)).st_mode) == 0o755
        for f in files:
            assert stat.S_IMODE(
                os.stat(os.path.join(root, f)).st_mode) == 0o644, (root, f)
            if f.isdigit():
                assert f".{f}.crc" in files, (root, f)
            elif f.endswith(".delta"):
                deltas += 1
                assert {f".{f}.crc", f"{f}.crc", f".{f}.crc.crc"} <= set(files)
    assert deltas > 0


def test_killed_pipeline_restarts_to_the_batch_answer(spark, tmp_path):
    """SIGKILL the serving process's whole process group inside the
    trigger after a seeded number of committed ones, restart a fresh
    process on the same checkpoint, and require exactly the batch
    sessionizer's segments:
    every key once with its payload, no extra key, no torn file, no
    temp file left by the restarted run, and every segment counted by
    exactly one committed sink batch. Neither process runs a `chmod` process for a checkpoint
    file, and the checkpoint keeps Hadoop's modes and checksums."""
    qdir = str(tmp_path / "q")
    rdir = str(tmp_path / "r")
    ckpt = str(tmp_path / "ckpt")
    ev = load_tables(spark, SF_DIR)["events"]
    chunks = chunks_from_events(ev, DEFAULT_CONFIG, max_users=6)
    n_lines = enqueue_chunks(qdir, chunks)
    expected = _expected(chunks)
    kill_at = random.Random(CRASH_SEED).randint(1, 4)

    cmd = [sys.executable, "-m", "streamprocess_spark.streaming.flagship",
           "--queue", qdir, "--results", rdir, "--ckpt", ckpt,
           "--max-records", str(CRASH_MAX_RECORDS)]
    shim, chmod_log = _chmod_shim(tmp_path)
    env = dict(os.environ, SPARK_GRAFT_DRIVER_MEM="1g",
               PATH=shim + os.pathsep + os.environ.get("PATH", ""))
    log1 = str(tmp_path / "run1.log")
    with open(log1, "w") as out:
        proc = subprocess.Popen(cmd, cwd=REPO, env=env, stdout=out,
                                stderr=subprocess.STDOUT,
                                start_new_session=True, umask=0o022)
    try:
        # kill mid-trigger: the next batch is in the offset log but not
        # yet committed, so the restart must re-run it
        deadline = time.time() + 240
        while not (_log_entries(ckpt, "offsets") > _log_entries(ckpt, "commits")
                   >= kill_at):
            assert proc.poll() is None, _log_tail(log1)
            assert time.time() < deadline, _log_tail(log1)
            time.sleep(0.01)
    finally:
        with contextlib.suppress(ProcessLookupError):
            os.killpg(proc.pid, signal.SIGKILL)
        proc.wait()
    delivered_at_kill = sum(f.endswith(".json") for f in os.listdir(rdir))
    assert delivered_at_kill < len(expected), "killed after the stream drained"
    # the killed run's Python workers are in pyspark's own process group,
    # not the one killed, and stop when their JVM's sockets close; let
    # them go, so the restart's spool files are told apart by mtime
    time.sleep(1)
    restarted_at = time.time()

    log2 = str(tmp_path / "run2.log")
    with open(log2, "w") as out:
        rc = subprocess.run(cmd + ["--lines", str(n_lines)], cwd=REPO,
                            env=env, stdout=out, stderr=subprocess.STDOUT,
                            timeout=300, umask=0o022).returncode
    assert rc == 0, _log_tail(log2)

    files = os.listdir(rdir)
    assert not [f for f in files if ".tmp." in f], files
    # the sink spools into _tmp/ and sweeps only files older than 60 s,
    # so the killed run's torn spool files may stay; the restarted run's
    # must all have been renamed into place
    spool = os.path.join(rdir, "_tmp")
    left = [f for f in os.listdir(spool)
            if os.stat(os.path.join(spool, f)).st_mtime >= restarted_at]
    assert not left, left
    results = {}
    for f in files:
        if f.endswith(".json"):
            with open(os.path.join(rdir, f)) as fh:
                doc = json.load(fh)  # a torn file fails here
            assert f == f"result-{doc['job_id']}.json"
            results[doc["job_id"]] = doc["payload"]
    assert sorted(results) == sorted(expected), (
        f"kill after {kill_at} commits: missing "
        f"{sorted(set(expected) - set(results))[:5]}, extra "
        f"{sorted(set(results) - set(expected))[:5]}")
    for key, exp in expected.items():
        assert results[key] == {c: exp[c] for c in PAYLOAD_COLUMNS}, key

    # no duplicate delivery: each committed sink batch records how many
    # results it wrote, and a re-run batch overwrites its own marker
    written = 0
    for marker in os.listdir(os.path.join(rdir, "_commits")):
        with open(os.path.join(rdir, "_commits", marker)) as fh:
            written += json.load(fh)["n_written"]
    assert written == len(expected), (written, len(expected))

    calls = open(chmod_log).read().splitlines() if os.path.exists(chmod_log) else []
    assert not [c for c in calls if ckpt in c], calls[:5]
    _assert_checkpoint_files(ckpt)
