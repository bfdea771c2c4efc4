"""ACID commit-log table format (io/txlog.py): snapshot isolation,
atomic OPTIMIZE swap, optimistic concurrency, time travel, vacuum."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from streamprocess_spark.io.txlog import TxConflict, TxTable


def _df(spark, lo, hi):
    return spark.range(lo, hi).select(
        F.col("id"), (F.col("id") % 7).alias("k")
    )


def test_create_append_read(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, 0, 100))
    assert t.read(spark).count() == 100
    v1 = t.append(_df(spark, 100, 150))
    assert v1 == 1
    assert t.read(spark).count() == 150
    # time travel: version 0 still sees only the first batch
    assert t.read(spark, version=0).count() == 100


def test_rewrite_is_atomic_swap(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"),
                       _df(spark, 0, 1000).repartition(8))
    v0 = t.latest_version()
    n_before = len(t.snapshot_files())
    assert n_before >= 8
    # OPTIMIZE: same rows, compacted to one file, one commit
    compacted = t.read(spark).orderBy("id")
    t.rewrite(compacted, expected_version=v0, n_files=1)
    assert len(t.snapshot_files()) == 1
    got = t.read(spark)
    assert got.count() == 1000
    assert got.agg(F.sum("id")).collect()[0][0] == 999 * 1000 // 2
    # pre-vacuum, the old snapshot is still fully readable (isolation)
    old = t.read(spark, version=v0)
    assert old.count() == 1000 and len(t.snapshot_files(v0)) == n_before


def test_rewrite_conflict_detected(spark, tmp_path):
    """A rewrite planned against a stale snapshot must NOT publish —
    otherwise it would silently drop the racing append's rows."""
    t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, 0, 100))
    v0 = t.latest_version()
    t.append(_df(spark, 100, 200))             # concurrent writer wins
    with pytest.raises(TxConflict):
        t.rewrite(t.read(spark, version=v0), expected_version=v0)
    # the failed rewrite changed nothing
    assert t.read(spark).count() == 200


def test_append_retries_through_conflicts(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"), _df(spark, 0, 10))
    # simulate a racing writer by pre-claiming the next version once
    t.commit([{"add": {"path": "nonexistent.parquet", "rows": 0}}],
             expected_version=t.latest_version())
    t.commit([{"remove": {"path": "nonexistent.parquet"}}],
             expected_version=t.latest_version())
    assert t.append(_df(spark, 10, 20)) == t.latest_version()
    assert t.read(spark).count() == 20


def test_vacuum_keeps_retained_versions(spark, tmp_path):
    t = TxTable.create(spark, str(tmp_path / "t"),
                       _df(spark, 0, 500).repartition(4))
    v0 = t.latest_version()
    t.rewrite(t.read(spark).orderBy("id"), expected_version=v0, n_files=1)
    # retain 1 version: v0's files survive vacuum, nothing deleted yet
    assert t.vacuum(retain_versions=1) == []
    assert t.read(spark, version=v0).count() == 500
    t.append(_df(spark, 500, 600))
    # now v0 is older than latest-1 → its removed files are deletable
    deleted = t.vacuum(retain_versions=1)
    assert len(deleted) >= 4
    assert t.read(spark).count() == 600        # latest unaffected


def test_zorder_rewrite_through_log_prunes(spark, tmp_path):
    """The q109 z-order strategy executed as ONE txlog commit: the
    rewritten layout prunes a 2D predicate better than the time-linear
    original, measured on the live snapshot's own files."""
    from streamprocess_spark.plans.scale_joins import _z_interleave_sql

    # q109's Morton code; the oracle text uses DuckDB's `//`, which
    # Spark SQL spells `div`
    z_value = F.expr(_z_interleave_sql("a", "b").replace("//", "div"))
    rows = spark.range(0, 20000).select(
        (F.col("id") % 128).alias("a"),
        ((F.col("id") * 37) % 128).alias("b"),
        F.col("id").alias("payload"),
    )
    t = TxTable.create(spark, str(tmp_path / "t"), rows.repartition(16))
    v0 = t.latest_version()

    def candidates(version):
        files = t.snapshot_files(version)
        import os
        paths = [os.path.join(t.path, f["path"]) for f in files]
        stats = (
            spark.read.parquet(*paths)
            .groupBy(F.input_file_name().alias("f"))
            .agg(F.min("a").alias("amin"), F.max("a").alias("amax"),
                 F.min("b").alias("bmin"), F.max("b").alias("bmax"))
        )
        return stats.filter(
            (F.col("amin") <= 16) & (F.col("amax") >= 0)
            & (F.col("bmin") <= 16) & (F.col("bmax") >= 0)
        ).count(), stats.count()

    before_hit, before_total = candidates(v0)
    zsorted = (
        t.read(spark)
        .withColumn("z", z_value)
        .repartitionByRange(16, "z")
        .sortWithinPartitions("z")
        .drop("z")
    )
    v1 = t.rewrite(zsorted, expected_version=v0, n_files=None)
    after_hit, after_total = candidates(v1)
    assert t.read(spark).count() == 20000
    # z-order clusters both dims → far fewer candidate files for the
    # corner predicate than the original hash-scattered layout
    assert before_hit == before_total          # scattered: no pruning
    assert after_hit < after_total             # clustered: real pruning


def test_concurrent_writers_linearize(spark, tmp_path):
    """Round-4 verdict #6: two appenders with SEPARATE TxTable
    instances race the log concurrently; every commit must land, the
    version chain must be gap-free, and no rows may be lost. The
    barrier variant below additionally pins both writers to the SAME
    expected version so the put-if-absent conflict path is observed
    deterministically."""
    import threading

    path = str(tmp_path / "t")
    TxTable.create(spark, path, _df(spark, 0, 10))

    n_writers, n_appends = 2, 4
    errors: list[Exception] = []

    def writer(w):
        t = TxTable(path)  # separate instance per writer
        for i in range(n_appends):
            lo = 1000 * (w + 1) + 100 * i
            try:
                t.append(_df(spark, lo, lo + 50))
            except Exception as e:  # noqa: BLE001
                errors.append(e)

    threads = [
        threading.Thread(target=writer, args=(w,)) for w in range(n_writers)
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=300)
    assert not errors, errors[0]

    t = TxTable(path)
    # gap-free linearized version chain: create + every append
    assert t.versions() == list(range(n_writers * n_appends + 1))
    assert t.read(spark).count() == 10 + n_writers * n_appends * 50


def test_concurrent_commit_same_version_conflicts(spark, tmp_path):
    """Both writers plan against the SAME snapshot version, then race
    the commit through a barrier: exactly one must win the version
    file, the loser must raise TxConflict without publishing."""
    import threading

    path = str(tmp_path / "t")
    TxTable.create(spark, path, _df(spark, 0, 10))

    barrier = threading.Barrier(2)
    outcomes: list[str] = []

    def racer(tag):
        t = TxTable(path)
        v = t.latest_version()
        barrier.wait(timeout=60)
        try:
            t.commit([{"add": {"path": f"{tag}.parquet", "rows": 1}}], v)
            outcomes.append(f"win:{tag}")
        except TxConflict:
            outcomes.append(f"lose:{tag}")

    threads = [
        threading.Thread(target=racer, args=(tag,)) for tag in ("a", "b")
    ]
    for th in threads:
        th.start()
    for th in threads:
        th.join(timeout=60)
    assert sorted(o.split(":")[0] for o in outcomes) == ["lose", "win"]
    # exactly one commit published
    t = TxTable(path)
    assert t.latest_version() == 1
