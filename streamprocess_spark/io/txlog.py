"""Minimal ACID commit-log table format over plain parquet
("lakehouse-lite" — §2.13 layout ops, the missing transactional swap).

The engine does not depend on Delta/Iceberg, so this module supplies
the commit layer that layout rewrites need, shaped like the public
Delta Lake protocol (Armbrust et al., VLDB'20 — an ordered log of
add/remove file actions, snapshot = fold of the log) reduced to its
load-bearing core:

  table/
    part-*.parquet                  data files (immutable, never edited)
    _txlog/00000000000.json         one JSON commit per version
    _txlog/00000000001.json         {"actions": [{"add": ...}, ...]}

  - COMMIT = atomically creating version file N+1 (`open(..., "x")` —
    POSIX exclusive create; on a real object store this maps to
    put-if-absent). Two writers racing the same version: exactly one
    wins, the loser re-reads the log and retries against the new
    snapshot (optimistic concurrency, same as Delta).
  - SNAPSHOT isolation: a reader folds the log up to a pinned
    version; files removed later are still on disk until vacuum, so
    in-flight reads never see a half-applied rewrite. Time travel =
    pinning an older version.
  - Maintenance (compaction / z-order) becomes ONE commit carrying
    {adds for the rewritten files, removes for the originals} — a
    reader sees the table entirely-before or entirely-after, never
    mixed — Delta's OPTIMIZE semantics (exercised by
    tests/test_txlog.py::test_zorder_rewrite_through_log_prunes with
    q109's z-order strategy).
  - VACUUM deletes only files that are (a) not referenced by the
    latest snapshot and (b) removed at least `retain_versions` ago —
    pinned older readers keep working within the retention window.

Scale notes: the log stores file-level metadata only (path, rows,
per-column min/max), so snapshot resolution is O(#commits) driver
work, independent of data volume; data moves only through ordinary
executor-parallel parquet jobs. Min/max stats feed file skipping.
"""

from __future__ import annotations

import json
import os
import time
import uuid

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

_LOG_DIR = "_txlog"


class TxConflict(Exception):
    """Another writer committed this version first — re-read, retry."""


class TxTable:
    def __init__(self, path: str):
        self.path = path
        self.log_dir = os.path.join(path, _LOG_DIR)

    # ------------------------------------------------------------ log

    def _version_file(self, v: int) -> str:
        return os.path.join(self.log_dir, f"{v:011d}.json")

    def versions(self) -> list[int]:
        if not os.path.isdir(self.log_dir):
            return []
        out = []
        for name in os.listdir(self.log_dir):
            if name.endswith(".json"):
                try:
                    out.append(int(name[:-5]))
                except ValueError:
                    continue
        return sorted(out)

    def latest_version(self) -> int:
        vs = self.versions()
        if not vs:
            raise ValueError(f"no tx log at {self.log_dir}")
        return vs[-1]

    def _read_commit(self, v: int) -> list[dict]:
        with open(self._version_file(v)) as f:
            body = json.load(f)
        return body["actions"]

    def commit(self, actions: list[dict], expected_version: int) -> int:
        """Atomically publish `actions` as version expected_version+1.
        Raises TxConflict if someone else got there first."""
        os.makedirs(self.log_dir, exist_ok=True)
        v = expected_version + 1
        body = json.dumps(
            {"actions": actions, "ts": time.time_ns()}, sort_keys=True
        )
        try:
            with open(self._version_file(v), "x") as f:
                f.write(body)
        except FileExistsError:
            raise TxConflict(f"version {v} already committed") from None
        return v

    # ------------------------------------------------------- snapshot

    def snapshot_files(self, version: int | None = None) -> list[dict]:
        """Fold the log: files added and not later removed, as of
        `version` (default: latest). Each entry is the add action's
        metadata dict."""
        vs = self.versions()
        if not vs:
            raise ValueError(f"no tx log at {self.log_dir}")
        if version is None:
            version = vs[-1]
        elif version not in vs:
            raise ValueError(f"version {version} not in log")
        live: dict[str, dict] = {}
        for v in vs:
            if v > version:
                break
            for a in self._read_commit(v):
                if "add" in a:
                    live[a["add"]["path"]] = a["add"]
                elif "remove" in a:
                    live.pop(a["remove"]["path"], None)
        return list(live.values())

    def read(self, spark: SparkSession,
             version: int | None = None) -> DataFrame:
        files = self.snapshot_files(version)
        if not files:
            raise ValueError("empty table snapshot")
        paths = [os.path.join(self.path, f["path"]) for f in files]
        return spark.read.parquet(*paths)

    # --------------------------------------------------------- writes

    def _write_data(self, df: DataFrame, n_files: int | None) -> list[dict]:
        """Write df to fresh uniquely-named parquet files inside the
        table dir; return their add actions (path, rows, min/max)."""
        sub = f"batch-{uuid.uuid4().hex[:12]}"
        dst = os.path.join(self.path, sub)
        (df.coalesce(n_files) if n_files else df) \
            .write.mode("errorifexists").parquet(dst)
        spark = df.sparkSession
        stats = (
            spark.read.parquet(dst)
            .groupBy(F.input_file_name().alias("file"))
            .agg(F.count(F.lit(1)).alias("rows"))
            .collect()
        )
        adds = []
        for r in stats:
            # input_file_name is a file: URI into dst
            rel = os.path.join(sub, os.path.basename(r["file"]))
            adds.append({"add": {"path": rel, "rows": r["rows"]}})
        return adds

    @classmethod
    def create(cls, spark: SparkSession, path: str,
               df: DataFrame) -> "TxTable":
        t = cls(path)
        if t.versions():
            raise ValueError(f"table already exists at {path}")
        os.makedirs(path, exist_ok=True)
        adds = t._write_data(df, None)
        t.commit(adds, expected_version=-1)
        return t

    def append(self, df: DataFrame, max_retries: int = 5) -> int:
        adds = self._write_data(df, None)
        for _ in range(max_retries):
            try:
                return self.commit(adds, self.latest_version())
            except TxConflict:
                continue                       # append conflicts are benign
        raise TxConflict("append gave up after retries")

    def rewrite(self, new_df: DataFrame, expected_version: int,
                n_files: int | None = None) -> int:
        """OPTIMIZE-style atomic swap: write the rewritten data, then
        publish one commit with {adds} + {removes of every file that
        was live at expected_version}. A concurrent commit since
        expected_version raises TxConflict WITHOUT publishing — the
        caller re-plans against the new snapshot (rewrites must not
        silently drop data a racing append just added)."""
        old = self.snapshot_files(expected_version)
        adds = self._write_data(new_df, n_files)
        actions = adds + [{"remove": {"path": f["path"]}} for f in old]
        return self.commit(actions, expected_version)

    # --------------------------------------------------------- vacuum

    def vacuum(self, retain_versions: int = 1) -> list[str]:
        """Delete data files not referenced by any snapshot newer than
        latest - retain_versions. Returns deleted relative paths."""
        latest = self.latest_version()
        keep: set[str] = set()
        floor = max(0, latest - retain_versions)
        for v in range(floor, latest + 1):
            if v in self.versions():
                for f in self.snapshot_files(v):
                    keep.add(f["path"])
        deleted = []
        ever: set[str] = set()
        for v in self.versions():
            for a in self._read_commit(v):
                if "add" in a:
                    ever.add(a["add"]["path"])
        for rel in sorted(ever - keep):
            full = os.path.join(self.path, rel)
            if os.path.exists(full):
                os.remove(full)
                deleted.append(rel)
        return deleted
