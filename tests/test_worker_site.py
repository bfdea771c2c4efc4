"""The worker_site startup hook: the zipimport guard it installs, its
reach into every Python process Spark launches, and its chaining to a
shadowed ``sitecustomize``."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

import streamprocess_spark

SITE_DIR = os.path.join(os.path.dirname(streamprocess_spark.__file__),
                        "worker_site")
GUARD_FILE = os.path.join(SITE_DIR, "sitecustomize.py")

needs_guard = pytest.mark.skipif(
    sys.version_info >= (3, 12), reason="guard is installed on 3.11 and older only"
)


@needs_guard
def test_zipimport_guard(tmp_path):
    """The mtime guard must skip the directory re-read for an unchanged
    archive and still re-read when the archive genuinely changes."""
    import zipfile
    import zipimport

    from streamprocess_spark.worker_site.sitecustomize import (
        _invalidate_if_changed,
    )

    zpath = str(tmp_path / "mod.zip")
    with zipfile.ZipFile(zpath, "w") as zf:
        zf.writestr("m1.py", "X = 1\n")
    zi = zipimport.zipimporter(zpath)
    assert "m1" in str(zi._files)
    calls = []
    orig_read = zipimport._read_directory

    def counting_read(archive):
        calls.append(archive)
        return orig_read(archive)

    zipimport._read_directory = counting_read
    try:
        _invalidate_if_changed(zi)      # key recorded by the read above
        n_first = len(calls)
        _invalidate_if_changed(zi)      # unchanged archive: skipped
        assert len(calls) == n_first
        # a genuinely modified archive re-reads (bump mtime + content)
        with zipfile.ZipFile(zpath, "w") as zf:
            zf.writestr("m1.py", "X = 2\n")
            zf.writestr("m2.py", "Y = 3\n")
        st = os.stat(zpath)
        os.utime(zpath, (st.st_atime, st.st_mtime + 5))
        _invalidate_if_changed(zi)
        assert len(calls) > n_first
        assert "m2" in str(zi._files)
    finally:
        zipimport._read_directory = orig_read


def test_shadowed_sitecustomize_still_runs(tmp_path):
    """A ``sitecustomize`` later on sys.path than the hook still runs,
    after the hook has installed the guard."""
    later = tmp_path / "later_site"
    later.mkdir()
    (later / "sitecustomize.py").write_text(
        "import zipimport\n"
        "print('later ran, guard from',\n"
        "      zipimport.zipimporter.invalidate_caches.__code__.co_filename)\n"
    )
    env = dict(os.environ,
               PYTHONPATH=os.pathsep.join([SITE_DIR, str(later)]))
    out = subprocess.run(
        [sys.executable, "-c", "import sitecustomize; print(sitecustomize.__file__)"],
        env=env, capture_output=True, text=True, timeout=60, check=True,
    ).stdout.splitlines()
    expected_guard = (
        GUARD_FILE if sys.version_info < (3, 12) else "<frozen zipimport>"
    )
    assert out == [f"later ran, guard from {expected_guard}", GUARD_FILE]


@needs_guard
def test_guard_reaches_planner_processes(spark, tmp_path):
    """A Python stream sink's ``streamWriter()`` (the per-trigger write
    setup) and ``commit()`` (the sink commit runner) run in data-source
    planner processes under the stock ``pyspark.daemon``, which
    ``spark.python.daemon.module`` never reaches. The startup hook must
    have installed the guard there too."""
    from pyspark.sql.datasource import (
        DataSource,
        DataSourceStreamWriter,
        WriterCommitMessage,
    )

    probe = str(tmp_path / "probe.txt")

    def record(path, where):
        import zipimport

        fn = zipimport.zipimporter.invalidate_caches.__code__.co_filename
        with open(path, "a") as f:
            f.write(f"{where} {fn}\n")

    class ProbeWriter(DataSourceStreamWriter):
        def __init__(self, path):
            self.path = path

        def write(self, iterator):
            for _ in iterator:
                pass
            return WriterCommitMessage()

        def commit(self, messages, batchId):
            record(self.path, "commit")

    class ProbeSink(DataSource):
        @classmethod
        def name(cls):
            return "planner_guard_probe"

        def schema(self):
            return "value bigint"

        def streamWriter(self, schema, overwrite):
            record(self.options["path"], "setup")
            return ProbeWriter(self.options["path"])

    spark.dataSource.register(ProbeSink)
    src = tmp_path / "src"
    spark.range(3).write.json(str(src))
    q = (
        spark.readStream.schema("id bigint").json(str(src))
        .selectExpr("id AS value")
        .writeStream.format("planner_guard_probe")
        .option("path", probe)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(120)
    with open(probe) as f:
        seen = {tuple(line.split(" ", 1)) for line in f.read().splitlines()}
    assert seen == {("setup", GUARD_FILE), ("commit", GUARD_FILE)}
