"""Multi-micro-batch streaming convergence (SURVEY §5 streaming
contract, T10): replaying the events table as SEVERAL time-ordered
files with maxFilesPerTrigger=1 forces state (windows, sessions,
join buffers) to be carried and merged across micro-batch boundaries —
a much stronger check than a single-batch replay. Converged results
must still equal the batch/DuckDB answer."""

from __future__ import annotations

import os
import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from streamprocess_spark.plans import QUERIES, oracle_sql_map
from streamprocess_spark.schemas import EVENTS
from streamprocess_spark.streaming.core import run_to_completion
from tests.conftest import SF_DIR
from tests.oracle_utils import compare, duck_connection

N_SPLITS = 4


@pytest.fixture(scope="module")
def split_dir(spark):
    """events.parquet split into N_SPLITS sequential time ranges, one
    file per range (file order = time order, so in-order arrival with
    state carried across batches)."""
    from streamprocess_spark.io.tables import table_path

    tmp = tempfile.mkdtemp(prefix="spsplit_")
    ev = spark.read.parquet(table_path(SF_DIR, "events"))
    tiles = ev.select(
        F.ntile(N_SPLITS).over(
            __import__("pyspark.sql.window", fromlist=["Window"])
            .Window.orderBy("ts", "event_id")
        ).alias("tile"),
        "*",
    )
    for t in range(1, N_SPLITS + 1):
        part = tiles.filter(F.col("tile") == t).drop("tile").orderBy("ts")
        pdir = os.path.join(tmp, f"stage{t}")
        part.coalesce(1).write.mode("overwrite").parquet(pdir)
        src = next(
            f for f in os.listdir(pdir) if f.endswith(".parquet")
        )
        shutil.move(os.path.join(pdir, src), os.path.join(tmp, f"part-{t:03d}.parquet"))
        shutil.rmtree(pdir)
    yield tmp
    shutil.rmtree(tmp, ignore_errors=True)


@pytest.fixture(scope="module")
def duck():
    con = duck_connection(SF_DIR)
    yield con
    con.close()


def _stream(spark, split_dir):
    return (
        spark.readStream.schema(EVENTS)
        .option("maxFilesPerTrigger", 1)
        .parquet(split_dir)
    )


def test_tumbling_window_across_batches(spark, split_dir, duck):
    from streamprocess_spark.plans.util import dsum

    stream = _stream(spark, split_dir)
    agg = (
        stream.groupBy(F.window("ts", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"), dsum("value", "total_value"))
        .select(F.col("w.start").alias("window_start"), "event_type",
                "n_events", "total_value")
    )
    got = run_to_completion(agg, "complete").toPandas()
    want = duck.sql(oracle_sql_map()["stream_tumbling_window"]).df()
    assert not compare(got, want)


def test_stateful_dedup_across_batches(spark, split_dir, duck):
    stream = _stream(spark, split_dir)
    agg = (
        stream.select("user_id", "event_type")
        .dropDuplicates(["user_id", "event_type"])
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_types"))
    )
    got = run_to_completion(agg, "complete").toPandas()
    want = duck.sql(oracle_sql_map()["stream_dedup_ids"]).df()
    assert not compare(got, want)


def test_multiple_micro_batches_actually_ran(spark, split_dir):
    """Guard: the split replay must produce >1 micro-batch, else the
    tests above degrade to the single-batch case."""
    from streamprocess_spark.streaming import core

    stream = _stream(spark, split_dir)
    agg = stream.groupBy("event_type").count()
    run_to_completion(agg, "complete")
    assert core.LAST_RUN["batches"] >= N_SPLITS


def test_autoscaler_state_continues_across_microbatches(spark, tmp_path):
    """The cooldown anchor must survive micro-batch boundaries: metrics
    split into two time-ordered files processed one per trigger give
    EXACTLY the decisions of the single-pass batch recurrence (a
    scale applied in batch 1 still suppresses actions in batch 2)."""
    import pandas as pd

    from streamprocess_spark.streaming.autoscaler import (
        COOLDOWN_S,
        autoscaler_stream_decisions,
        run_controller,
    )

    t0 = 1_700_000_000.0
    # one worker type; rates force: up at w0, cooldown-suppressed at
    # w1 (file 1) and w2 (file 2!), then down at w3 after cooldown
    rows = pd.DataFrame({
        "worker_type": ["stt"] * 4,
        "window_start": pd.to_datetime(
            [t0, t0 + 600, t0 + 1200, t0 + COOLDOWN_S], unit="s"
        ),
        "ws_epoch": [t0, t0 + 600, t0 + 1200, t0 + COOLDOWN_S],
        "rate": [6.5, 0.5, 0.5, 0.5],
    })
    src = tmp_path / "metrics"
    src.mkdir()
    schema = (
        "worker_type string, window_start timestamp, "
        "ws_epoch double, rate double"
    )
    spark.createDataFrame(rows.iloc[:2]).coalesce(1).write.parquet(
        str(src / "f0")
    )
    spark.createDataFrame(rows.iloc[2:]).coalesce(1).write.parquet(
        str(src / "f1")
    )
    mstream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", 1)
        .parquet(str(src) + "/f*")
    )
    q = (
        autoscaler_stream_decisions(mstream)
        .writeStream.format("memory")
        .queryName("autoscale_mb")
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    got = (
        spark.table("autoscale_mb")
        .orderBy("window_start")
        .toPandas()
    )
    want = run_controller(rows)
    assert list(got["action"]) == list(want["action"]) == [
        "scale_up", "no_change", "no_change", "scale_down"
    ]
    assert list(got["replicas"]) == list(want["replicas"]) == [5, 5, 5, 1]


def test_local_master_gets_filesystem_checkpoint_manager(
        spark, capsys, monkeypatch, tmp_path):
    """A local-mode session commits checkpoints through Spark's
    FileSystem-based manager with checksums left on, sets local file
    permissions in-process (Hadoop's filesystem, saying so once on
    stderr, when the class cannot be compiled), and talks to its
    Python workers over Unix sockets when the socket dir fits Spark's
    61-char cap (else over TCP, saying so once on stderr); any other
    master gets none of the local-mode confs."""
    import os
    import stat
    import tempfile

    from streamprocess_spark import session
    from streamprocess_spark.session import (
        _FS_CHECKPOINT_MANAGER,
        _NIO_FS_CLASS,
        local_master_conf,
    )

    manager = "spark.sql.streaming.checkpointFileManagerClass"
    partitions = "spark.sql.streaming.internal.stateStore.partitions"
    checksum = "spark.sql.streaming.checkpoint.fileChecksum.enabled"
    uds = "spark.python.unix.domain.socket.enabled"
    uds_dir = "spark.python.unix.domain.socket.dir"
    fs_impl = "spark.hadoop.fs.file.impl"
    classpath = "spark.driver.extraClassPath"
    for master in ("local", "local[2]", "local[*]", "local[4,2]"):
        conf = local_master_conf(master)
        assert conf[manager] == _FS_CHECKPOINT_MANAGER
        assert conf[fs_impl] == _NIO_FS_CLASS
        assert conf[classpath].endswith(".jar") and os.path.isfile(conf[classpath])
    for master in ("yarn", "spark://host:7077", "k8s://https://host:443",
                   "local-cluster[2,1,1024]"):
        conf = local_master_conf(master)
        assert not {manager, partitions, uds, uds_dir, fs_impl,
                    classpath} & set(conf), master

    fits, too_long = "/s" * 30 + "x", "/s" * 30 + "xy"
    assert (len(fits), len(too_long)) == (61, 62)
    conf = local_master_conf("local[2]", fits)
    assert (conf[uds], conf[uds_dir]) == ("true", fits)
    assert capsys.readouterr().err == ""
    conf = local_master_conf("local[2]", too_long)
    assert uds not in conf and uds_dir not in conf
    assert conf[manager] == _FS_CHECKPOINT_MANAGER
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1 and too_long in err[0] and "TCP" in err[0]
    assert local_master_conf("yarn", too_long) == {}
    assert capsys.readouterr().err == ""
    # the default socket dir is the temp dir, as in the live session
    tmp = tempfile.gettempdir()
    if len(tmp) <= 61:
        assert local_master_conf("local")[uds_dir] == tmp
        sc_conf = spark.sparkContext.getConf()
        assert (sc_conf.get(uds), sc_conf.get(uds_dir)) == ("true", tmp)

    assert spark.sparkContext.master.startswith("local")
    assert spark.conf.get(manager) == _FS_CHECKPOINT_MANAGER
    # corruption detection stays: nothing in the session turns it off
    assert spark.conf.get(checksum, "true") != "false"
    assert dict(spark.sparkContext.getConf().getAll()).get(
        checksum, "true") != "false"

    # no javac and no cached jar: Hadoop's filesystem, one stderr line
    capsys.readouterr()
    with monkeypatch.context() as m:
        m.setattr(tempfile, "tempdir", str(tmp_path))
        m.setattr(session, "_find_javac", lambda: None)
        conf = local_master_conf("local[2]", fits)
    assert not {fs_impl, classpath} & set(conf)
    assert conf[manager] == _FS_CHECKPOINT_MANAGER
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1 and err[0].startswith("[session]") and "javac" in err[0]

    # the live session resolves file:/// to the product's filesystem,
    # whose setPermission leaves the mode os.chmod would
    jvm = spark.sparkContext._jvm
    fs = jvm.org.apache.hadoop.fs.FileSystem.get(
        jvm.java.net.URI("file:///"),
        spark.sparkContext._jsc.hadoopConfiguration())
    assert fs.getClass().getName() == _NIO_FS_CLASS
    via_hadoop, via_os = tmp_path / "a", tmp_path / "b"
    for f in (via_hadoop, via_os):
        f.write_text("x")
        f.chmod(0o600)
    fs.setPermission(jvm.org.apache.hadoop.fs.Path(str(via_hadoop)),
                     jvm.org.apache.hadoop.fs.permission.FsPermission
                     .valueOf("-rw-r--r--"))
    os.chmod(via_os, 0o644)
    assert stat.S_IMODE(via_hadoop.stat().st_mode) == stat.S_IMODE(
        via_os.stat().st_mode) == 0o644


def test_nio_fs_jar_is_trusted_only_from_a_private_dir(
        capsys, monkeypatch, tmp_path):
    """The compiled filesystem class goes on the JVM's classpath, so
    the jar is cached only in a dir of this user's that no one else can
    write: a cached jar that others could have written is compiled
    again, and a cache dir that is shared, or a symlink, leaves
    Hadoop's filesystem with one stderr line. The class is Java 17
    bytecode (Spark 4's minimum), whatever javac built it."""
    import os
    import stat
    import tempfile
    import zipfile

    from streamprocess_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    cache = tmp_path / f"streamprocess_spark-{os.getuid()}"
    jar, why_not = session._nio_fs_jar()
    assert why_not == "" and os.path.dirname(jar) == str(cache)
    assert stat.S_IMODE(cache.stat().st_mode) == 0o700
    with zipfile.ZipFile(jar) as zf:
        cls = zf.read("streamprocess_spark/NioLocalFileSystem.class")
    assert int.from_bytes(cls[6:8], "big") == 61  # class file major: Java 17

    # a jar others could have replaced is not reused
    with open(jar, "wb") as f:
        f.write(b"planted")
    os.chmod(jar, 0o666)
    assert session._nio_fs_jar() == (jar, "")
    assert not stat.S_IMODE(os.stat(jar).st_mode) & 0o022
    with zipfile.ZipFile(jar) as zf:
        assert zf.read("streamprocess_spark/NioLocalFileSystem.class") == cls
    assert [p.name for p in cache.iterdir()] == [os.path.basename(jar)]

    # a shared cache dir, or a symlink in its place, is not used at all
    os.chmod(cache, 0o777)
    capsys.readouterr()
    conf = session.local_master_conf("local[2]", "/s")
    assert "spark.hadoop.fs.file.impl" not in conf
    assert "spark.driver.extraClassPath" not in conf
    err = capsys.readouterr().err.splitlines()
    assert len(err) == 1 and err[0].startswith("[session]") and str(cache) in err[0]
    os.chmod(cache, 0o700)
    os.rename(cache, tmp_path / "elsewhere")
    cache.symlink_to(tmp_path / "elsewhere")
    assert session._nio_fs_jar()[0] is None


def test_worker_package_zip_is_cached_privately(monkeypatch, tmp_path):
    """The package zip shipped to Python workers is written once per
    hash of its sources into this user's private cache dir and reused
    by the next session; nothing lands at a predictable name in the
    shared temp dir."""
    import stat
    import types
    import zipfile

    from streamprocess_spark import session

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    monkeypatch.setattr(session, "_PYFILES_SENT", set())
    shipped: list[str] = []

    def fake_session(app_id: str):
        sc = types.SimpleNamespace(applicationId=app_id,
                                   addPyFile=shipped.append)
        return types.SimpleNamespace(sparkContext=sc)

    session.ensure_workers_can_import(fake_session("app-1"))
    first = os.stat(shipped[0])
    session.ensure_workers_can_import(fake_session("app-2"))
    assert len(shipped) == 2 and shipped[0] == shipped[1]
    assert os.stat(shipped[1]).st_ino == first.st_ino  # reused, not rewritten
    cache = tmp_path / f"streamprocess_spark-{os.getuid()}"
    assert os.path.dirname(shipped[0]) == str(cache)
    assert stat.S_IMODE(cache.stat().st_mode) == 0o700
    assert not stat.S_IMODE(first.st_mode) & 0o022
    with zipfile.ZipFile(shipped[0]) as zf:
        assert "streamprocess_spark/io/queue_source.py" in zf.namelist()
    assert not list(tmp_path.glob("streamprocess_spark_pyfiles_*"))


def test_streaming_builders_leave_no_temp_dirs(spark, monkeypatch, tmp_path):
    """A replay builder's staged source, checkpoint, upsert store and
    memory-sink view are gone once its query has ended: the returned
    DataFrame holds the rows itself."""
    from streamprocess_spark.plans import query_map

    monkeypatch.setattr(tempfile, "tempdir", str(tmp_path))
    for name in ("stream_tumbling_window", "stream_topk_users"):
        assert query_map()[name](spark, SF_DIR).collect(), name
    left = [p.name for p in tmp_path.iterdir()
            if p.name.startswith(("spstream_", "spckpt_", "sptopk_"))]
    assert left == []
    views = [t.name for t in spark.catalog.listTables()
             if t.name.startswith("sink_")]
    assert views == []
