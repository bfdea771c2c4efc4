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

import contextlib
import glob
import hashlib
import os
import re
import shutil
import stat
import subprocess
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
    for k, v in local_master_conf(master).items():
        builder = builder.config(k, v)
    # Python processes the JVM launches inherit its env (this driver's,
    # in local mode), so the PYTHONPATH committed here BEFORE the JVM
    # starts reaches all of them. It carries two entries:
    #   - the package's parent dir, so task workers can run the
    #     pre-warmed daemon (worker_daemon.py): forked workers inherit
    #     numpy/pandas/Arrow-serializer imports instead of re-importing
    #     them, in a frozen heap that the full gc.collect() after each
    #     task skips. spark.python.daemon.module reaches task runners only;
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


# Defaults for a local-mode driver, where the driver is the only
# executor and every checkpoint and Python worker is on its own host:
#   - FileSystemBasedCheckpointFileManager. Spark's default manager
#     goes through Hadoop's FileContext, which on a host without
#     libhadoop forks a `readlink`/`stat` subprocess for every rename
#     (RawLocalFileSystem.getFileLinkStatusInternal). That was most of
#     each trigger's state-store commit time. The FileSystem manager
#     writes a temp file and renames it with FileSystem.rename, which
#     on a local POSIX filesystem is one rename(2): a reader sees the
#     old file or the whole new one, never part of it. Any other master
#     keeps Spark's default: on HDFS or an object store, FileContext's
#     atomic rename is the guarantee that keeps a crashed driver from
#     leaving a torn offset file.
#   - spark.sql.streaming.checkpoint.fileChecksum.enabled is left at
#     Spark's default (on): the checksum sidecars are how a corrupted
#     checkpoint file is detected, and they cost little once renames
#     stop forking.
#   - One state partition per core. Every state partition is a task
#     that loads and commits a store on every trigger, so on a small
#     local batch that per-task cost, not rows, sets the trigger time;
#     with one partition per core the stateful stage runs in one wave.
#     spark.sql.streaming.internal.stateStore.partitions is an
#     internal conf, but in Spark 4.1 it is the only one that sizes
#     stateful operators apart from batch shuffles, which keep
#     spark.sql.shuffle.partitions. Spark reads it when a query starts
#     on a NEW checkpoint and records it in the offset log as that
#     checkpoint's spark.sql.shuffle.partitions; a restarted query
#     keeps the recorded count whatever the session says, because
#     state is partitioned by it.
#   - Permissions set in-process (NioLocalFileSystem.java). Without
#     libhadoop, Hadoop's RawLocalFileSystem.setPermission runs a
#     `chmod` process for every file it creates with a permission:
#     each checkpoint file, its .crc, Spark's checksum sidecar and that
#     sidecar's .crc, about 20 per trigger, and the state tasks waited
#     on them. fs.file.impl swaps in a LocalFileSystem whose raw
#     filesystem sets the same rwx bits through java.nio; files,
#     sidecars and renames are otherwise Hadoop's. The class is
#     compiled with javac --release 17 before the JVM starts, once per
#     source hash, into a jar in a 0700 dir of this user's under the
#     temp dir, and goes on the driver's classpath, which in local mode
#     is every executor's. A jar or dir that another user could have
#     written is never put on the classpath. With no javac, a failed
#     compile or no private cache dir, the session keeps Hadoop's
#     filesystem and says so in one stderr line.
#   - Python workers over Unix domain sockets. Spark's loopback TCP
#     sockets to its workers do not set TCP_NODELAY, and in most
#     Python tasks of a streaming trigger the worker waited 37-45 ms
#     between receiving its command and its first input: Nagle's
#     algorithm meeting a delayed ACK. A Unix socket has no Nagle; with
#     it that wait was 0-1 ms. The conf covers every Python runner,
#     batch UDFs included. Spark creates each socket as
#     <dir>/.<uuid>.sock and caps the dir at 61 chars so the path fits
#     sun_path; a longer temp dir keeps TCP rather than fail worker
#     creation. Only a local master gets this: elsewhere the workers
#     run on other hosts, where this driver's temp dir means nothing.
_FS_CHECKPOINT_MANAGER = (
    "org.apache.spark.sql.execution.streaming.checkpointing."
    "FileSystemBasedCheckpointFileManager"
)
_UDS_DIR_MAX_CHARS = 61
_NIO_FS_CLASS = "streamprocess_spark.NioLocalFileSystem"
_NIO_FS_SOURCE = os.path.join(os.path.dirname(os.path.abspath(__file__)),
                              "NioLocalFileSystem.java")
# bytecode level of the compiled class: Spark 4's minimum Java, so a
# newer javac than the JVM that Spark runs still emits a loadable class
_JAVA_RELEASE = "17"


def local_master_conf(master: str, sock_dir: str | None = None) -> dict[str, str]:
    """The confs a session on ``master`` adds to Spark's defaults: the
    local-mode defaults above for ``local`` / ``local[...]``, and none
    for any other master. ``sock_dir`` (default: the temp dir) holds
    the Python workers' Unix sockets; when it is longer than Spark
    allows, workers stay on TCP and one line on stderr says so. When
    NioLocalFileSystem cannot be built, local files keep Hadoop's
    filesystem, again with one stderr line."""
    if not re.fullmatch(r"local(\[.*\])?", master):
        return {}
    conf = {
        "spark.sql.streaming.checkpointFileManagerClass": _FS_CHECKPOINT_MANAGER,
        "spark.sql.streaming.internal.stateStore.partitions":
            str(default_parallelism()),
    }
    jar, why_not = _nio_fs_jar()
    if jar:
        conf["spark.driver.extraClassPath"] = jar
        conf["spark.hadoop.fs.file.impl"] = _NIO_FS_CLASS
    else:
        print(f"[session] {why_not}; Hadoop's local filesystem runs chmod "
              "per created file", file=sys.stderr)
    sock_dir = sock_dir or tempfile.gettempdir()
    if len(sock_dir) <= _UDS_DIR_MAX_CHARS:
        conf["spark.python.unix.domain.socket.enabled"] = "true"
        conf["spark.python.unix.domain.socket.dir"] = sock_dir
    else:
        print(f"[session] temp dir longer than {_UDS_DIR_MAX_CHARS} chars "
              f"({sock_dir}); Python workers use TCP", file=sys.stderr)
    return conf


def _find_javac() -> str | None:
    """The javac of the JDK that Spark's launcher runs: $JAVA_HOME's,
    else the first on PATH."""
    home = os.environ.get("JAVA_HOME")
    if home and os.access(os.path.join(home, "bin", "javac"), os.X_OK):
        return os.path.join(home, "bin", "javac")
    return shutil.which("javac")


def _private(path: str, is_type) -> bool:
    """``path`` itself (not a symlink's target) is of the given type,
    owned by this user and writable by no one else."""
    try:
        st = os.lstat(path)
    except FileNotFoundError:
        return False
    return (is_type(st.st_mode) and st.st_uid == os.getuid()
            and not st.st_mode & 0o022)


def _cache_dir() -> str:
    """This user's cache dir in the temp dir, made 0700 if missing;
    callers check it with ``_private`` before trusting what is in it."""
    cache = os.path.join(tempfile.gettempdir(),
                         f"streamprocess_spark-{os.getuid()}")
    with contextlib.suppress(FileExistsError):
        os.mkdir(cache, 0o700)
    return cache


def _write_atomically(path: str, write) -> None:
    """Call ``write(fileobj)`` on a fresh temp file next to ``path``,
    then rename it into place: a reader never sees a partial file, and
    a planted file or symlink at a predictable name is never written
    through."""
    fd, tmp = tempfile.mkstemp(dir=os.path.dirname(path), suffix=".tmp")
    try:
        with os.fdopen(fd, "wb") as fh:
            write(fh)
        os.replace(tmp, path)
    except BaseException:
        with contextlib.suppress(FileNotFoundError):
            os.unlink(tmp)
        raise


def _zip(fh, members: dict[str, str]) -> None:
    """Write a zip of ``{name in archive: source path}`` to ``fh``."""
    with zipfile.ZipFile(fh, "w") as zf:
        for name, full in members.items():
            zf.write(full, name)


def _nio_fs_jar() -> tuple[str | None, str]:
    """``(jar, "")`` with the compiled NioLocalFileSystem, built on
    first use under the source's hash into this user's private cache
    dir in the temp dir; ``(None, reason)`` when it cannot be built.
    The jar goes on the JVM's classpath, so only a jar in a dir that
    no other user can write is trusted; anything else is compiled
    again. Concurrent sessions each write their own temp file and
    rename a finished jar into place."""
    with open(_NIO_FS_SOURCE, "rb") as f:
        digest = hashlib.sha256(
            f.read() + _JAVA_RELEASE.encode()).hexdigest()[:16]
    cache = _cache_dir()
    if not _private(cache, stat.S_ISDIR):
        return None, f"{cache} is not a dir that only this user can write"
    jar = os.path.join(cache, f"nio_fs_{digest}.jar")
    if _private(jar, stat.S_ISREG):
        return jar, ""
    javac = _find_javac()
    if javac is None:
        return None, "no javac found"
    from pyspark.find_spark_home import _find_spark_home

    api = glob.glob(os.path.join(_find_spark_home(), "jars",
                                 "hadoop-client-api-*.jar"))
    if not api:
        return None, "no hadoop-client-api jar to compile against"
    with tempfile.TemporaryDirectory(dir=cache) as out:
        r = subprocess.run([javac, "-nowarn", "--release", _JAVA_RELEASE,
                            "-cp", api[0], "-d", out, _NIO_FS_SOURCE],
                           capture_output=True, text=True)
        if r.returncode != 0:
            # the JVM echoes JAVA_TOOL_OPTIONS first; skip to the error
            err = [ln for ln in r.stderr.splitlines()
                   if ln.strip() and not ln.startswith("Picked up ")]
            return None, (f"javac failed on {_NIO_FS_SOURCE}: "
                          f"{err[0] if err else f'exit {r.returncode}'}")
        classes = [os.path.join(root, fn)
                   for root, _dirs, files in os.walk(out) for fn in files]
        _write_atomically(jar, lambda fh: _zip(
            fh, {os.path.relpath(c, out): c for c in classes}))
    return jar, ""



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
    sources = {
        os.path.relpath(full, os.path.dirname(pkg_dir)): full
        for root, _dirs, files in os.walk(pkg_dir)
        for full in (os.path.join(root, fn) for fn in files)
        if full.endswith(".py")
    }
    digest = hashlib.sha256()
    for name, full in sorted(sources.items()):
        with open(full, "rb") as f:
            data = f.read()
        digest.update(f"{name}\0{len(data)}\0".encode() + data)
    cache = _cache_dir()
    if not _private(cache, stat.S_ISDIR):
        # a fresh dir of this session's own, never a predictable name
        cache = tempfile.mkdtemp(prefix="streamprocess_spark_")
    zpath = os.path.join(cache, f"pyfiles_{digest.hexdigest()[:16]}.zip")
    if not _private(zpath, stat.S_ISREG):
        _write_atomically(zpath, lambda fh: _zip(fh, sources))
    spark.sparkContext.addPyFile(zpath)
    _PYFILES_SENT.add(sid)
