"""SparkSession factory.

Scale rationale (targets a 1000-executor cluster even though tests run
on local[N]):
  - AQE on: runtime partition coalescing, skew-join splitting, dynamic
    join selection — the reference hand-tunes batch sizes
    (src/config.py:107-112); AQE is the Spark-native equivalent.
  - shuffle.partitions sized to cores locally; on a real cluster this
    is overridden (or left to AQE's coalescing from a high initial
    value).
  - Arrow enabled + bounded batch size: every pandas UDF transfer is
    vectorized; maxRecordsPerBatch mirrors the reference's dynamic
    batcher cap (Triton preferred_batch_size,
    triton/models/*/config.pbtxt:29-33).
  - session timezone pinned UTC so event-time windows are engine- and
    host-independent (the DuckDB oracle is timezone-naive).
"""

from __future__ import annotations

import os
import sys
import tempfile
import zipfile

from pyspark.sql import SparkSession


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 4))


def get_spark(
    app_name: str = "streamprocess-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        # local-mode driver IS the executor: the 1g default heap is the
        # first thing to fall over on a broadcast build once data grows
        # (cluster deployments size executors explicitly instead)
        .config(
            "spark.driver.memory",
            os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        )
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Arrow batch sizing is RECORDS-based; with wide binary columns
        # (30 KB images) 10k-row batches are ~300 MB per core — measured
        # 4.5x slower on the image-UDF pipeline than 2k rows purely from
        # allocation/copy pressure. 2000 keeps binary-heavy batches
        # ~60 MB while costing nothing measurable on narrow rows
        # (there is no maxBytesPerBatch conf as of Spark 4.1).
        .config("spark.sql.execution.arrow.maxRecordsPerBatch", "2000")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        .config("spark.sql.parquet.filterPushdown", "true")
        # Small-file split floor (round-8 finding): file-scan planning
        # sets maxSplitBytes = min(maxPartitionBytes, max(openCostInBytes,
        # totalBytes/defaultParallelism)), so the 4 MB openCostInBytes
        # default floors the split size ABOVE the whole few-MB fixture
        # parquet — documents/embeddings scanned as ONE partition and the
        # map-only Python-UDF family (audio decode, OCR, CDC chunking,
        # WARC probes) ran on 1-2 of 32 cores (measured: q135 deep x10
        # 73.6s -> 6.7s from this line alone). 64 KB lets small inputs
        # fan out to every core; at real scale bytesPerCore >> 128 MB so
        # splits stay maxPartitionBytes-bound — the 100 TB plan is
        # untouched. Every result in this engine is partition-count
        # invariant by design (fixed-point order-independent sums, keyed
        # windows), so parity is unaffected.
        .config("spark.sql.files.openCostInBytes", str(64 * 1024))
        # InferFiltersFromGenerate adds a size()>0 pre-filter above
        # explode(<expr>); when <expr> is a pandas-UDF column the UDF
        # chain is then evaluated TWICE (once for the inferred filter,
        # once for the generator input) — observed doubling the whole
        # synth→OCR Arrow pipeline. Inner explode drops empty/null
        # arrays itself, so excluding the rule changes no semantics.
        .config("spark.sql.optimizer.excludedRules",
                "org.apache.spark.sql.catalyst.optimizer.InferFiltersFromGenerate")
        # saveAsTable targets land in tmp, never the repo working dir
        .config(
            "spark.sql.warehouse.dir",
            os.path.join(tempfile.gettempdir(), "spark_graft_warehouse"),
        )
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.streaming.stateStore.providerClass",
                "org.apache.spark.sql.execution.streaming.state.HDFSBackedStateStoreProvider")
    )
    for k, v in local_checkpoint_profile_conf().items():
        builder = builder.config(k, v)
    # Python processes the JVM launches inherit its env (this driver's,
    # in local mode), so the PYTHONPATH committed here BEFORE the JVM
    # starts reaches all of them. It carries two entries:
    #   - the package's parent dir, so task workers can run the
    #     pre-warmed daemon (worker_daemon.py): forked workers inherit
    #     numpy/pandas/Arrow-serializer imports instead of re-importing
    #     them. spark.python.daemon.module reaches task runners only;
    #     data-source planner runners (the per-trigger write setup and
    #     sink commit) call the createPythonWorker overload that
    #     hardcodes the stock pyspark.daemon;
    #   - worker_site/, whose sitecustomize.py CPython runs at startup
    #     in EVERY launched process, planner runners included: it
    #     installs the zipimport guard.
    # One subprocess probe proves a bare interpreter with that env can
    # import both; environments where it can't keep the stock daemon
    # and an untouched PYTHONPATH instead of failing worker creation.
    if _prewarmed_daemon_usable():
        builder = builder.config(
            "spark.python.daemon.module", "streamprocess_spark.worker_daemon"
        )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


# Local-filesystem checkpoint deployment profile (round-10 verdict #4).
# Round-10 profiling measured ~0.5 s/trigger of LOCAL-ONLY streaming
# checkpoint overhead on hosts without libhadoop: Spark's default
# CheckpointFileManager resolves through Hadoop's FileContext, which —
# absent the native lib — forks a `readlink` subprocess per rename,
# and Spark 4.1's checkpoint checksum sidecars serialize extra file
# ops through a small pool (A/B: 1.3 s -> 0.73 s per empty trigger).
# The cure trades DOCUMENTED properties, so it is opt-in, never the
# default:
#   - FileSystemBasedCheckpointFileManager writes checkpoint files
#     without FileContext's atomic-rename guarantee — safe on a local
#     filesystem / in tests, NOT what you want on HDFS where a crashed
#     driver mid-rename could leave a torn offset file;
#   - checksum-off drops Spark 4.1's checkpoint corruption detection.
# Enable with SPARK_GRAFT_LOCAL_CHECKPOINT_PROFILE=1 for local/bench
# deployments; a cluster run on HDFS/S3 should leave it unset.
LOCAL_CHECKPOINT_PROFILE_ENV = "SPARK_GRAFT_LOCAL_CHECKPOINT_PROFILE"

_LOCAL_CHECKPOINT_CONF = {
    "spark.sql.streaming.checkpointFileManagerClass":
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager",
    "spark.sql.streaming.checkpoint.fileChecksum.enabled": "false",
}


def local_checkpoint_profile_conf() -> dict[str, str]:
    """The session confs the profile applies — {} unless the env gate
    is set, so default behavior is byte-identical to Spark defaults."""
    if os.environ.get(LOCAL_CHECKPOINT_PROFILE_ENV):
        return dict(_LOCAL_CHECKPOINT_CONF)
    return {}


# RocksDB state-store deployment profile. Stage attribution of the
# flagship RocksDB legs (StreamingQuery progress stateOperators
# customMetrics) showed the per-batch state COMMIT dominated by the
# full-snapshot upload: rocksdbSaveZipFilesLatencyMs 10-16 s +
# CommitFileSyncLatency 12-17 s summed per micro-batch (32
# partitions) — every batch zips and syncs the entire RocksDB
# checkpoint per partition. Changelog
# checkpointing (public Spark conf, the documented production setting
# for frequent-commit stateful workloads) persists the per-batch CHANGE
# SET instead and snapshots in the background: measured summed commit
# 13.5 s -> 5.4 s per batch, zip eliminated, even-leg wall 4.14 ->
# 3.32 s warm. The trade is restore time (replay changelogs since the
# last background snapshot) — right for a serving pipeline committing
# every 200 ms at any scale, so it defaults ON for the engine's RocksDB
# profile; SPARK_GRAFT_ROCKSDB_CHANGELOG=0 restores full snapshots.
ROCKSDB_CHANGELOG_ENV = "SPARK_GRAFT_ROCKSDB_CHANGELOG"

_ROCKSDB_PROVIDER = (
    "org.apache.spark.sql.execution.streaming.state."
    "RocksDBStateStoreProvider"
)


def rocksdb_state_conf() -> dict[str, str]:
    """Session confs for running a stateful stream on the RocksDB
    provider (the 100 TB deployment shape: spillable keyed state,
    incremental checkpoints)."""
    conf = {
        "spark.sql.streaming.stateStore.providerClass": _ROCKSDB_PROVIDER,
    }
    if os.environ.get(ROCKSDB_CHANGELOG_ENV, "1") != "0":
        conf[
            "spark.sql.streaming.stateStore.rocksdb."
            "changelogCheckpointing.enabled"
        ] = "true"
    return conf


_DAEMON_PROBE: bool | None = None


def _prewarmed_daemon_usable() -> bool:
    """Verify a bare interpreter, with the package's parent dir and
    ``worker_site/`` added to PYTHONPATH, runs the ``worker_site``
    startup hook and can import the daemon module. Only COMMIT that
    PYTHONPATH mutation to os.environ when the probe succeeds — a
    failed probe leaves the process environment untouched. Cached —
    the probe subprocess imports pandas. A failed probe logs once so
    runs with and without the pre-warmed daemon are distinguishable in
    their output."""
    global _DAEMON_PROBE
    if _DAEMON_PROBE is not None:
        return _DAEMON_PROBE
    import subprocess

    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    site_dir = os.path.join(pkg_dir, "worker_site")
    existing = os.environ.get("PYTHONPATH", "")
    entries = existing.split(os.pathsep) if existing else []
    probe_pp = os.pathsep.join(
        [d for d in (site_dir, os.path.dirname(pkg_dir)) if d not in entries]
        + entries
    )
    env = os.environ.copy()
    env["PYTHONPATH"] = probe_pp
    probe = (
        "import os, sitecustomize, streamprocess_spark.worker_daemon; "
        f"raise SystemExit(os.path.dirname(sitecustomize.__file__) != {site_dir!r})"
    )
    try:
        _DAEMON_PROBE = (
            subprocess.run(
                [sys.executable, "-c", probe],
                env=env,
                capture_output=True,
                timeout=60,
            ).returncode == 0
        )
    except Exception:
        _DAEMON_PROBE = False
    if _DAEMON_PROBE:
        # commit the PYTHONPATH the JVM must inherit for the daemon
        # launch and the startup hook — only now that the probe proved
        # it works
        os.environ["PYTHONPATH"] = probe_pp
    else:
        print("[session] prewarmed worker daemon unavailable "
              "(import probe failed); using stock pyspark.daemon",
              file=sys.stderr)
    return _DAEMON_PROBE


_PYFILES_SENT: set[str] = set()


def ensure_workers_can_import(spark: SparkSession) -> None:
    """Ship the streamprocess_spark package to Python workers.

    Pandas-UDF closures reference this module; when the driving
    process imported it via a sys.path entry the forked workers don't
    share (e.g. the harness runs from another cwd), deserialization
    fails with ModuleNotFoundError. addPyFile with a package zip fixes
    that for local and cluster mode alike. Idempotent per session."""
    sid = spark.sparkContext.applicationId
    if sid in _PYFILES_SENT:
        return
    import streamprocess_spark

    pkg_dir = os.path.dirname(os.path.abspath(streamprocess_spark.__file__))
    zpath = os.path.join(
        tempfile.gettempdir(), f"streamprocess_spark_pyfiles_{os.getpid()}.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for root, _dirs, files in os.walk(pkg_dir):
            for fn in files:
                if fn.endswith(".py"):
                    full = os.path.join(root, fn)
                    rel = os.path.relpath(full, os.path.dirname(pkg_dir))
                    zf.write(full, rel)
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SENT.add(sid)
