"""Result-store sink — the reference's Redis result store (SURVEY
§2.1 S9/S10/S12) as a Python DataSourceStreamArrowWriter (Spark 4).

Arrow write path (round-10 flagship profiling): the stream writer
receives pyarrow RecordBatches instead of per-row pickled Rows — the
per-row path cost ~0.4 ms/row of pickle + conversion on the flagship
even leg (measured via the source→sink ablation: 3.5 s vs 0.9 s for
6.6k rows). The per-job_id atomic file upsert (the SETEX contract)
is unchanged; only the executor-boundary serialization is columnar.

Reference semantics reproduced (src/queue/redis_queue.py):
  - `store_result`: `SETEX result:{job_id} 3600 <json>`
    (`redis_queue.py:305-314`) → one `result-{job_id}.json` per job,
    written atomically (tmp + rename) with an `expires_at` stamp.
    SETEX is an idempotent keyed UPSERT, so executor tasks write
    final files directly; a retried task rewrites identical content —
    the same at-least-once-made-harmless contract the reference has.
    `commit()` then records a `_commits/{batchId}` marker so the
    micro-batch boundary stays observable; `abort()` keeps completed
    upserts (idempotent keyed overwrites, exactly what a crashed
    reference worker leaves) and sweeps orphaned tmp spool files, so
    every file that survives an abort is a well-formed result. Spool
    files live in `<path>/_tmp/`, on the same filesystem as the
    results (the rename stays one rename(2)), so the per-trigger sweep
    lists only the spool, never the whole store.
  - `wait_for_result`: poll every 100 ms until hit or timeout
    (`redis_queue.py:329-344`) → :func:`wait_for_result`.
  - TTL expiry / stream trimming (`redis_queue.py:49-51,382-397`) →
    :func:`vacuum` deletes entries whose `expires_at` has passed
    (explicit `now` argument — retention is a policy input, never
    hidden wall-clock inside the engine).

Input contract: the stream must carry a `job_id` column; all other
columns are serialized into the stored JSON payload.
"""

from __future__ import annotations

import json
import os
import time
from dataclasses import dataclass

from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamArrowWriter,
    WriterCommitMessage,
)

DEFAULT_TTL_S = 3600.0  # redis_queue.py:49-51


def _result_path(path: str, job_id: str) -> str:
    return os.path.join(path, f"result-{job_id}.json")


def _spool_dir(path: str) -> str:
    return os.path.join(path, "_tmp")


@dataclass
class ResultCommitMessage(WriterCommitMessage):
    n_written: int = 0


class ResultStoreStreamWriter(DataSourceStreamArrowWriter):
    def __init__(self, options):
        self.path = options["path"]
        self.ttl_s = float(options.get("ttl_s", DEFAULT_TTL_S))

    def write(self, iterator) -> ResultCommitMessage:
        os.makedirs(_spool_dir(self.path), exist_ok=True)
        n = 0
        # iterator of pyarrow RecordBatches; to_pylist() gives the same
        # nested dicts Row.asDict(recursive=True) produced
        for rb in iterator:
            for d in rb.to_pylist():
                n += self._write_one(d)
        return ResultCommitMessage(n_written=n)

    def _write_one(self, d: dict) -> int:
        job_id = str(d.pop("job_id"))
        doc = {
            "job_id": job_id,
            "payload": d,
            "expires_at": time.time() + self.ttl_s,
        }
        final = _result_path(self.path, job_id)
        tmp = os.path.join(_spool_dir(self.path),
                           f"{os.path.basename(final)}.tmp.{os.getpid()}")
        with open(tmp, "w") as f:
            json.dump(doc, f, sort_keys=True)
        try:
            os.replace(tmp, final)  # atomic upsert == SETEX overwrite
        except FileNotFoundError:
            # a driver-side abort() of this (already doomed) batch
            # swept our spool file between write and rename; this
            # task's work is being discarded anyway — surface the
            # abort instead of half-committing
            raise RuntimeError(
                f"spool file swept by batch abort: {tmp}"
            ) from None
        return 1

    def commit(self, messages, batchId: int) -> None:
        marker_dir = os.path.join(self.path, "_commits")
        os.makedirs(marker_dir, exist_ok=True)
        total = sum(m.n_written for m in messages if m is not None)
        with open(os.path.join(marker_dir, str(batchId)), "w") as f:
            json.dump({"batch_id": batchId, "n_written": total}, f)
        # re-sweep tmps a straggler of an ABORTED earlier epoch may
        # have recreated after that epoch's abort() pass; age-gated so
        # this epoch's own in-flight spool files are never touched
        self._sweep_tmp(_spool_dir(self.path), older_than_s=60.0)

    def abort(self, messages, batchId: int) -> None:
        # completed upserts are harmless (keyed overwrite == SETEX;
        # same posture as a reference worker dying mid-store) and are
        # kept; orphaned tmp spool files from tasks killed mid-write
        # are swept. The sweep is BEST-EFFORT: a straggler task still
        # running when the driver aborts can recreate a tmp file after
        # this pass (its own rename then fails loudly, see write()),
        # so commit() of the next epoch re-sweeps stale tmps too. The
        # store root is swept as well, for spool files written there
        # before the spool had its own dir.
        self._sweep_tmp(_spool_dir(self.path))
        self._sweep_tmp(self.path)

    @staticmethod
    def _sweep_tmp(path: str, older_than_s: float = 0.0) -> None:
        if not os.path.isdir(path):
            return
        now = time.time()
        for fn in os.listdir(path):
            if ".tmp." not in fn:
                continue
            full = os.path.join(path, fn)
            try:
                if older_than_s and now - os.path.getmtime(full) < older_than_s:
                    continue
                os.remove(full)
            except OSError:
                pass


class ResultStoreDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "result_store"

    def streamWriter(self, schema, overwrite: bool) -> ResultStoreStreamWriter:
        return ResultStoreStreamWriter(self.options)


def register_result_sink(spark) -> None:
    spark.dataSource.register(ResultStoreDataSource)


def read_result(path: str, job_id: str) -> dict | None:
    """Point lookup (`GET result:{job_id}` analog, S10)."""
    p = _result_path(path, job_id)
    if not os.path.exists(p):
        return None
    with open(p) as f:
        return json.load(f)


def wait_for_result(
    path: str, job_id: str, timeout_s: float = 30.0, poll_s: float = 0.1
) -> dict | None:
    """Poll-until-present (`wait_for_result`, redis_queue.py:329-344)."""
    deadline = time.time() + timeout_s
    while time.time() < deadline:
        doc = read_result(path, job_id)
        if doc is not None:
            return doc
        time.sleep(poll_s)
    return None


def vacuum(path: str, now: float) -> int:
    """Delete expired results (TTL sweep, S12). Returns count removed."""
    removed = 0
    if not os.path.isdir(path):
        return 0
    for fn in os.listdir(path):
        if not fn.startswith("result-"):
            continue
        full = os.path.join(path, fn)
        try:
            with open(full) as f:
                if json.load(f).get("expires_at", float("inf")) <= now:
                    os.remove(full)
                    removed += 1
        except (json.JSONDecodeError, OSError):
            continue
    return removed
