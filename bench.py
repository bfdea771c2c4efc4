#!/usr/bin/env python
"""Benchmark runner: headline queries at $SPARK_GRAFT_SF_DIR
(default /root/testdata/sf0.1) on local[$SPARK_GRAFT_CPUS].

Prints the full result as one JSON line:
  {"metric": "...", "value": N, "unit": "sec", "queries": {...},
   "sf": ..., "deep": {"factor": 10, "value": N, "queries": {...}}, ...}
then its compact summary (`_compact`) as the final stdout line.

The "deep" section re-times the same queries on a 10x key-shifted
upscale of the base tables (generated once into a cached dir). At
sf0.1 every query is dominated by the ~1 s plan/Arrow warmup floor,
so round-over-round deltas there are noise; the deep run is where
plan-quality regressions (extra shuffles, lost pushdowns, skew) are
actually visible. Set SPARK_GRAFT_SKIP_DEEP=1 to skip it.

Every leg is timed by `_time_passes` (min of interleaved passes,
single-run above 30 s), and `_regression_gate` compares the run with
the committed BENCH_r*.json history at the same sf, so a silent
inflation cannot land unexplained.
"""

from __future__ import annotations

import contextlib
import dataclasses
import json
import os
import re
import shutil
import sys
import tempfile
import time

DEEP_FACTOR = 10

# Timing action: a noop-sink write, which materializes every column of
# every row. `.count()` is wrong as a benchmark action: under a pure
# row count Catalyst prunes every unreferenced column and eliminates
# unique-key left joins, so expression-heavy stages drop out of the
# measurement (q50 loses its decode UDF, q135 both joins and all three
# CDC UDFs). `timing_action` is stamped into the output so the
# regression gate never compares across methodologies.
TIMING_ACTION = "noop_write"

# min-of-2 exists to defeat transient GC/OS noise bursts, which are a
# large FRACTION of sub-second runs and a few percent of minute-scale
# ones; above this cutoff a single run is the better budget trade
_MIN_OF_2_CUTOFF_S = 30.0


@dataclasses.dataclass
class Timed:
    """One job's passes: wall seconds and result, one entry per pass."""

    runs: list[float] = dataclasses.field(default_factory=list)
    outs: list = dataclasses.field(default_factory=list)

    @property
    def best(self) -> float:
        return min(self.runs)


def _time_passes(jobs, passes: int = 2,
                 cutoff: float | None = _MIN_OF_2_CUTOFF_S, settle=None,
                 clock=time.perf_counter) -> dict[str, Timed]:
    """Time ordered ``(key, thunk)`` jobs over `passes` INTERLEAVED
    passes: every job once, in order, then every job again. Back-to-back
    repeats of one job share any transient GC/OS noise burst, which
    defeats the min; a full pass in between decorrelates the samples.
    From the second pass on, a job whose best so far is above `cutoff`
    seconds is not run again (`None`: every pass runs every job).
    `settle`, when given, is applied to each thunk's result outside the
    timed region, and its return is what `outs` records."""
    timed = {key: Timed() for key, _ in jobs}
    for p in range(passes):
        for key, thunk in jobs:
            t = timed[key]
            if p and cutoff is not None and t.best > cutoff:
                continue
            t0 = clock()
            out = thunk()
            t.runs.append(clock() - t0)
            t.outs.append(out if settle is None else settle(out))
    return timed


def _run_full(df) -> None:
    """Fully materialize the plan (all columns, all rows) without
    collecting — the benchmark timing action."""
    df.write.format("noop").mode("overwrite").save()


def _query_job(spark, builder, d: str):
    """Thunk for `_time_passes`: build the query on dir `d`, run it
    with the timing action, and return its DataFrame."""
    def run():
        df = builder(spark, d)
        _run_full(df)
        return df
    return run


def _bench_queries(spark, names: list[str], d: str,
                   label: str = "") -> dict[str, float]:
    """Best (unrounded) seconds of each named query on dir `d`."""
    from streamprocess_spark.plans import QUERIES

    timed = _time_passes(
        [(n, _query_job(spark, QUERIES[n].builder, d)) for n in names])
    for n in names:
        rows = timed[n].outs[-1].count()  # display-only, untimed
        print(f"# {label}{n}: {timed[n].best:.3f}s ({rows} rows)",
              file=sys.stderr)
    return {n: timed[n].best for n in names}


@contextlib.contextmanager
def _spark_conf(spark, conf: dict[str, str]):
    """Set each session conf for the block, then put every key back to
    what it was before."""
    saved: dict[str, str | None] = {}
    for k, v in conf.items():
        try:
            saved[k] = spark.conf.get(k)
        except Exception:
            saved[k] = None
        spark.conf.set(k, v)
    try:
        yield
    finally:
        for k, v in saved.items():
            if v is not None:
                spark.conf.set(k, v)
            else:
                spark.conf.unset(k)


# key shifts per replica: keep every FK relationship intact
# (orders.o_custkey ↔ customer.c_custkey shift together; lineitem
# joins dims that are NOT replicated, so part/supp keys are unshifted)
_DEEP_SQL = {
    "lineitem": (
        "SELECT l_orderkey + r.r * 10000000 AS l_orderkey, l_partkey, "
        "l_suppkey, l_linenumber, l_quantity, l_extendedprice, "
        "l_discount, l_tax, l_returnflag, l_linestatus, l_shipdate "
        "FROM src, range({f}) r(r)"
    ),
    "orders": (
        "SELECT o_orderkey + r.r * 10000000 AS o_orderkey, "
        "o_custkey + r.r * 10000000 AS o_custkey, o_orderstatus, "
        "o_totalprice, o_orderdate, o_orderpriority "
        "FROM src, range({f}) r(r)"
    ),
    "customer": (
        "SELECT c_custkey + r.r * 10000000 AS c_custkey, c_name, "
        "c_nationkey, c_acctbal, c_mktsegment FROM src, range({f}) r(r)"
    ),
    "events": (
        "SELECT event_id + r.r * 10000000 AS event_id, ts, "
        "user_id + r.r * 1000000 AS user_id, event_type, value, props "
        "FROM src, range({f}) r(r)"
    ),
    # per-replica suffix on EVERY word: within a replica the token
    # statistics are isomorphic to the base corpus (near-dup structure
    # preserved exactly), across replicas the token sets are disjoint
    # (shingle similarity ~0) — so the dedup workload scales linearly
    # (10x the original pair count). A trailing salt would leave
    # replicas near-duplicate (quadratic pair blowup); an interleaved
    # common token would make whole replicas self-similar (worse).
    "documents": (
        "SELECT doc_id + r.r * 1000000 AS doc_id, "
        "CASE WHEN r.r = 0 THEN text "
        "ELSE replace(text, ' ', cast(r.r AS VARCHAR) || ' ') END AS text, "
        "lang, source, n_chars FROM src, range({f}) r(r)"
    ),
    "embeddings": (
        "SELECT vec_id + r.r * 1000000 AS vec_id, embedding, label "
        "FROM src, range({f}) r(r)"
    ),
}


def _replica_sql(sf_dir: str, table: str, factor: int) -> str:
    src = os.path.join(sf_dir, f"{table}.parquet")
    return _DEEP_SQL[table].format(f=factor).replace("src", repr(src))


def _deep_cache_key(sf_dir: str) -> str:
    """Identity of the base data: path + per-table (size, mtime). A
    changed base dir invalidates the cached upscale, so a stale _DONE
    marker cannot silently bench old data."""
    parts = [os.path.abspath(sf_dir)]
    for name in sorted(os.listdir(sf_dir)):
        if name.endswith(".parquet"):
            st = os.stat(os.path.join(sf_dir, name))
            parts.append(f"{name}:{st.st_size}:{int(st.st_mtime)}")
    return "|".join(parts)


def _assert_upscale_id_bounds(sf_dir: str) -> None:
    """The replica shifts in _DEEP_SQL and ensure_recall_dir assume id
    headroom in the base corpus (vec_id/doc_id/user_id < 1e6,
    order/customer keys < 1e7); a bigger base would silently collide
    replica ids with base ids. Assert the bound once per generation —
    cache hits skip it, generation is minutes anyway."""
    import duckdb

    checks = (
        ("embeddings", "vec_id", 1_000_000),
        ("documents", "doc_id", 1_000_000),
        ("events", "user_id", 1_000_000),
        ("events", "event_id", 10_000_000),
        ("orders", "o_orderkey", 10_000_000),
        ("orders", "o_custkey", 10_000_000),
        ("customer", "c_custkey", 10_000_000),
        ("lineitem", "l_orderkey", 10_000_000),
    )
    with contextlib.closing(duckdb.connect()) as con:
        for table, col, bound in checks:
            path = os.path.join(sf_dir, f"{table}.parquet")
            if not os.path.exists(path):
                continue
            mx = con.execute(f"SELECT max({col}) FROM '{path}'").fetchone()[0]
            if mx is not None and mx >= bound:
                # a hard error, not an assert: collided replica ids
                # silently corrupt the upscale, and asserts vanish
                # under python -O
                raise ValueError(
                    f"{table}.{col} max {mx} >= replica shift {bound}: the "
                    f"upscale would collide replica ids with base ids"
                )


def _prestage_tables(d: str) -> None:
    """Run the io/tables.py staging passes (µs timestamp cast,
    row-group re-chunk) for every table of a generated dir NOW, so the
    one-time staging cost lands in data-prep instead of inside the
    first timed run (min-of-2 absorbs it for short queries, but >30 s
    legs are single-run)."""
    from streamprocess_spark.io.tables import table_path
    from streamprocess_spark.schemas import TABLE_NAMES

    for name in TABLE_NAMES:
        if os.path.exists(os.path.join(d, f"{name}.parquet")):
            table_path(d, name)


def _write_upscale(dst: str, copy_from: str, tables: dict[str, str]) -> None:
    """Write each `tables` entry (table -> DuckDB SELECT) as parquet
    into `dst`, and copy every other parquet file of `copy_from`."""
    import duckdb

    for name in os.listdir(copy_from):
        if name.endswith(".parquet") \
                and name.removesuffix(".parquet") not in tables:
            shutil.copy(os.path.join(copy_from, name),
                        os.path.join(dst, name))
    with contextlib.closing(duckdb.connect()) as con:
        for t, sql in tables.items():
            con.execute(
                f"COPY ({sql}) TO '{os.path.join(dst, t + '.parquet')}' "
                f"(FORMAT PARQUET)"
            )


def _cached_upscale(sf_dir: str, env: str, name: str, key: str,
                    build) -> str:
    """The generated dir at $`env` (default $TMPDIR/`name`). It is
    reused while its _DONE marker holds `key`; otherwise it is wiped
    and `build(dst)` writes it again. Prestaged either way."""
    dst = os.environ.get(env, os.path.join(tempfile.gettempdir(), name))
    marker = os.path.join(dst, "_DONE")
    if os.path.exists(marker):
        with open(marker) as f:
            if f.read() == key:
                _prestage_tables(dst)
                return dst
        shutil.rmtree(dst, ignore_errors=True)  # stale: regenerate
    _assert_upscale_id_bounds(sf_dir)
    os.makedirs(dst, exist_ok=True)
    build(dst)
    with open(marker, "w") as f:
        f.write(key)
    _prestage_tables(dst)
    return dst


def ensure_deep_dir(sf_dir: str, factor: int = DEEP_FACTOR) -> str:
    """Generate (once, cached) a factor-x upscale of the base tables."""
    return _cached_upscale(
        sf_dir, "SPARK_GRAFT_DEEP_DIR", f"spark_graft_deep_x{factor}",
        _deep_cache_key(sf_dir),
        lambda dst: _write_upscale(dst, sf_dir, {
            t: _replica_sql(sf_dir, t, factor) for t in _DEEP_SQL}),
    )


# ---------------------------------------------------------------------------
# scale soak: the dedup/ANN family's "bucketed, never all-pairs" claims
# are plan-shape arguments; this measures them. Each query runs at deep
# x10 AND x100 and the x100/x10 runtime ratio is gated at
# SOAK_MAX_RATIO — near-linear (~10x work) must stay ~10x time; a
# quadratic (all-pairs) regression would show ~100x and flag.
# ---------------------------------------------------------------------------

SOAK_FACTOR = 100
SOAK_MAX_RATIO = 15.0
SOAK_QUERIES = (
    "q45_minhash_lsh",
    "q149_semdedup_scale_auto",
    "q122_incremental_dedup",
    # bloom-prefiltered exact admission: linear by design —
    # 2 corpus scans, 0 corpus shuffles, index auto-sized to the corpus
    "q153_bloom_admission",
    "q135_cdc_dedup",
    # the one dedup-family member with a corpus-wide shuffle (gram-hash
    # counts)
    "q139_substring_spans",
    # the one dedup-family member with an ITERATIVE corpus-wide stage
    # (hash-min connected components); convergence cost tracks
    # duplicate-cluster diameter, which the replica-heavy upscale makes
    # adversarial. The _SOAK_EXTRA builder records the per-leg
    # convergence-round count (cc_rounds).
    "q86_dup_clusters",
)
# Not in the soak: q103_semdedup. Fixed k=8 means cluster size ~ N/8,
# so the pair stage is ~N^2/16 dots — quadratic at fixed capacity by
# configuration, not implementation (51 s at x10, past 7 min at x100).
# q149's auto-bits variant keeps cluster capacity tracking the corpus
# and stays in. q103 is still correctness-checked at every SF by the
# oracle suites.


def _soak_semdedup_scaled(spark, sf_dir: str):
    """q149's operator at its DEPLOYMENT configuration: coarse-bit
    width sized to the corpus (bits ≈ log2(N / (target·k)), target
    ~250 vectors per cluster at k=8 per group), the knob a real
    deployment turns as data grows. The registered q149 pins bits=2
    for oracle determinism at sf0.01; running THAT at x100 would
    reproduce exactly the fixed-capacity degradation q103 measures.
    Side by side in the soak output: q103 (fixed k=8) shows the
    super-linear fixed-capacity curve, this entry shows the same
    semantics staying near-linear when capacity tracks the corpus."""
    import math

    import duckdb

    from streamprocess_spark.io.tables import load_tables
    from streamprocess_spark.operators.similarity import semdedup_scaled

    n = duckdb.sql(
        f"SELECT count(*) FROM "
        f"'{os.path.join(sf_dir, 'embeddings.parquet')}'"
    ).fetchone()[0]
    bits = max(1, round(math.log2(max(2.0, n / 2000.0))))
    print(f"# soak semdedup_scale: N={n} -> bits={bits} "
          f"({1 << bits} groups x k=8)", file=sys.stderr)
    emb = load_tables(spark, sf_dir)["embeddings"]
    return semdedup_scaled(emb, bits=bits, k=8, n_iter=2, dim=64,
                           threshold=0.35)


# per-leg side-channel notes from _SOAK_EXTRA builders (cleared per
# soak entry by _bench_soak, appended once per builder invocation)
_SOAK_LEG_NOTES: dict[str, list] = {}


def _soak_dup_clusters(spark, sf_dir: str):
    """q86's exact operator (minhash candidate pairs -> hash-min
    connected components) with the convergence-round count recorded
    per invocation: rounds needed = component diameter, the quantity
    the replica-heavy upscale stresses."""
    from streamprocess_spark.io.tables import load_tables
    from streamprocess_spark.operators import dedup as D

    docs = load_tables(spark, sf_dir)["documents"]
    pairs = D.minhash_candidates(docs, "doc_id", "text").select(
        "doc_a", "doc_b"
    )
    stats: dict = {}
    out = D.connected_components(pairs, stats=stats)
    _SOAK_LEG_NOTES.setdefault("q86_dup_clusters", []).append(
        stats.get("rounds")
    )
    print(f"# soak q86 convergence rounds: {stats.get('rounds')}",
          file=sys.stderr)
    return out


# soak entries that are bench-level builders rather than registered
# queries (deployment-parameterized variants of registered operators)
_SOAK_EXTRA = {
    "q149_semdedup_scale_auto": _soak_semdedup_scaled,
    # same operator as the registered q86, via the stats-recording
    # wrapper above
    "q86_dup_clusters": _soak_dup_clusters,
}


def ensure_soak_dir(sf_dir: str, factor: int = SOAK_FACTOR) -> str:
    """x{factor} upscale of ONLY documents + embeddings (the soak
    queries' inputs), other tables copied x1 — load_tables opens every
    table's footer eagerly, so all 10 files must exist, but upscaling
    lineitem x100 would cost ~1 GB of disk for tables the soak never
    scans."""
    return _cached_upscale(
        sf_dir, "SPARK_GRAFT_SOAK_DIR", f"spark_graft_soak_x{factor}",
        _deep_cache_key(sf_dir),
        lambda dst: _write_upscale(dst, sf_dir, {
            t: _replica_sql(sf_dir, t, factor)
            for t in ("documents", "embeddings")}),
    )


def _bench_soak(spark, sf_dir: str) -> dict:
    from streamprocess_spark.plans import QUERIES

    lo_dir = ensure_deep_dir(sf_dir)            # x10
    t0 = time.perf_counter()
    hi_dir = ensure_soak_dir(sf_dir)            # x100
    print(f"# soak x{SOAK_FACTOR} data ready in "
          f"{time.perf_counter() - t0:.1f}s", file=sys.stderr)
    out: dict[str, dict] = {}
    for name in SOAK_QUERIES:
        builder = _SOAK_EXTRA.get(name) or (
            QUERIES[name].builder if name in QUERIES else None
        )
        if builder is None:
            continue
        _SOAK_LEG_NOTES.pop(name, None)
        # each leg min-of-2 back to back (x10 passes, then x100 passes);
        # several x100 legs finish in seconds, where one noisy pass
        # would swing the ratio
        lo_t = _time_passes([(name, _query_job(spark, builder, lo_dir))])
        hi_t = _time_passes([(name, _query_job(spark, builder, hi_dir))])
        lo, hi = lo_t[name].best, hi_t[name].best
        rows_hi = hi_t[name].outs[-1].count()  # display-only, untimed
        ratio = hi / lo
        out[name] = {
            "lo_sec": round(lo, 4), "hi_sec": round(hi, 4),
            "rows_hi": int(rows_hi), "ratio": round(ratio, 2),
        }
        notes = _SOAK_LEG_NOTES.pop(name, None)
        if notes:
            # one entry per builder invocation, in run order (x10
            # passes first, then x100)
            out[name]["cc_rounds"] = notes
        print(f"# soak {name}: x{DEEP_FACTOR} {lo:.3f}s -> "
              f"x{SOAK_FACTOR} {hi:.3f}s (ratio {ratio:.1f}x, "
              f"{rows_hi} rows)", file=sys.stderr)
    return {
        "factor_lo": DEEP_FACTOR, "factor_hi": SOAK_FACTOR,
        "max_ratio": SOAK_MAX_RATIO, "queries": out,
    }


# ---------------------------------------------------------------------------
# ANN recall at scale: recall@5 vs the exact top-k (q48 ground truth)
# at the bench SF and at a x10 corpus, gated at per-query floors.
# Recall at a fixed corpus is fully deterministic (md5-seeded planes,
# fixed-point scoring, id tie-breaks), so the floors sit only ~15-25%
# below the measured readings; more headroom would hide quality
# regressions.
#
# The x10 leg has its own corpus (ensure_recall_dir), not the deep dir:
# the deep upscale REPLICATES embedding values, so each query's top-5
# would be its own exact replicas and any correctly-bucketed index
# would read ~1.0. Here replicas carry a deterministic per-(vector,
# replica, dim) hash jitter of +-0.24 that lands them at cosine ~0.67
# to their original — wide enough (48 deg) that sign-LSH planes split
# them and PQ/IVF quantization error is comparable to the gap, so
# recovering them exercises the multi-table/nprobe machinery for real.
# The deep TIMING dir keeps exact replication on purpose: identical
# values = maximal duplicate multiplicity, the most adversarial shape
# for the dedup soak's pair stages.
# ---------------------------------------------------------------------------

ANN_RECALL_FLOORS = {
    "sf": {
        "q49_ann_lsh_topk": 0.6,
        "q73_ann_ivf_topk": 0.9,
        "q99_ann_ivf_trained": 0.7,
        # ADC top-R exact-rescore tail at R=200 (depth sweep at
        # llm_pipeline._PQ_RESCORE)
        "q111_pq_ann": 0.7,
    },
    "deep": {
        "q49_ann_lsh_topk": 0.7,
        "q73_ann_ivf_topk": 0.9,
        "q99_ann_ivf_trained": 0.75,
        "q111_pq_ann": 0.8,
    },
}

# jitter amplitude in 1e-4 units: +-0.24 per component. Embedding
# components are ~N(0, 0.1) over 64 dims (|x| ~ 0.8), so the replica
# cosine lands at |x|/sqrt(|x|^2+|j|^2) ~ 0.67 — far above the 0.35
# dedup threshold (replicas stay near-dups for any consumer) but wide
# enough that ANN bucket assignment genuinely has to work.
_RECALL_JITTER_AMP = 2400


def ensure_recall_dir(sf_dir: str, factor: int = DEEP_FACTOR) -> str:
    """x{factor} corpus for the ANN-recall leg: embeddings upscaled
    with the deterministic hash jitter above; every other table copied
    from the deep dir (the recall queries only scan embeddings, but
    load_tables opens all footers). The ground-truth pass (exact q48)
    runs on this same dir, so exact and approx see identical bytes."""
    src = os.path.join(sf_dir, "embeddings.parquet")
    amp = _RECALL_JITTER_AMP
    sql = (
        f"SELECT vec_id + r.r * 1000000 AS vec_id, "
        f"CASE WHEN r.r = 0 THEN embedding ELSE "
        f"list_transform(range(1, len(embedding) + 1), i -> "
        f"(embedding[i] + ((hash(vec_id * 64 + i + r.r * 7919) "
        f"% {2 * amp + 1})::BIGINT - {amp}) * 0.0001)::FLOAT) "
        f"END AS embedding, label "
        f"FROM {src!r}, range({factor}) r(r)"
    )
    return _cached_upscale(
        sf_dir, "SPARK_GRAFT_RECALL_DIR", f"spark_graft_recall_x{factor}",
        _deep_cache_key(sf_dir) + f"|jitter={amp}",
        lambda dst: _write_upscale(
            dst, ensure_deep_dir(sf_dir, factor), {"embeddings": sql}),
    )


def _bench_ann_recall(spark, sf_dir: str, deep: bool) -> dict:
    from streamprocess_spark.plans import QUERIES

    legs = {"sf": sf_dir}
    if deep:
        legs["deep"] = ensure_recall_dir(sf_dir)
    out: dict[str, dict] = {}
    for leg, d in legs.items():
        exact = {
            (r["qid"], r["cid"])
            for r in QUERIES["q48_embedding_topk"].builder(spark, d).collect()
        }
        out[leg] = {}
        for name, floor in ANN_RECALL_FLOORS[leg].items():
            approx = {
                (r["qid"], r["cid"])
                for r in QUERIES[name].builder(spark, d).collect()
            }
            rec = round(len(exact & approx) / max(len(exact), 1), 4)
            out[leg][name] = {"recall_at_5": rec, "floor": floor}
            print(f"# ann recall[{leg}] {name}: {rec} (floor {floor})",
                  file=sys.stderr)
    return out


# ---------------------------------------------------------------------------
# end-to-end corpus-curation DAG: the pipeline pieces are individually
# green; this times them as ONE composed job (q150: WARC source ->
# HTML->text -> dedup -> contamination -> admission -> splits through
# txlog stage tables) and replays the final admitted-corpus verdict
# counts in DuckDB.
# ---------------------------------------------------------------------------


def _bench_curation(spark, sf_dir: str) -> dict:
    import duckdb

    from streamprocess_spark.plans import QUERIES

    n_docs = duckdb.sql(
        f"SELECT count(*) FROM '{os.path.join(sf_dir, 'documents.parquet')}'"
    ).fetchone()[0]

    def collect_cells():
        return sorted(
            (r["verdict"], r["split"], r["n_docs"], r["membership_sum"])
            for r in QUERIES["q150_curation_dag"].builder(spark, sf_dir)
            .collect()
        )

    timed = _time_passes([("q150", collect_cells)], cutoff=None)["q150"]
    el, rows = timed.best, timed.outs[-1]
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"'{os.path.join(sf_dir, 'documents.parquet')}'"
    )
    oracle_rows = sorted(
        tuple(r)
        for r in con.execute(
            QUERIES["q150_curation_dag"].oracle_sql()
        ).fetchall()
    )
    verified = rows == oracle_rows
    out = {
        "n_docs": int(n_docs),
        "cells": len(rows),
        "admitted_docs": int(sum(r[2] for r in rows)),
        "value": round(el, 4),
        "docs_per_sec": round(n_docs / el, 1),
        "verified": bool(verified),
    }
    print(
        f"# curation DAG: {el:.3f}s ({out['docs_per_sec']} docs/s, "
        f"{out['admitted_docs']}/{n_docs} admitted, "
        f"replay {'OK' if verified else 'MISMATCH'})",
        file=sys.stderr,
    )
    return out


N_STREAMS = 100
SCALE_STREAMS = 1000

# The flagship legs after the even one, each mapped to the leg whose
# chunks/s it must stay within 2x of.
_FLAGSHIP_LEGS = {
    "skew": "even", "scale": "even", "rocksdb": "even",
    # same workload as the in-memory scale leg, provider swapped
    "scale_rocksdb": "scale",
}


def _flagship_once(spark, chunks, label: str) -> dict:
    """Enqueue one chunk workload and time the queue -> sessionizer ->
    result-store pipeline end to end (min of 2 fresh runs)."""
    from streamprocess_spark.streaming.flagship import (
        drain_and_stop,
        enqueue_chunks,
        start_flagship,
    )
    from streamprocess_spark.streaming.sessionizer import (
        DEFAULT_CONFIG,
        sessionize_batch,
    )

    qdir = tempfile.mkdtemp(prefix="spbenchq_")
    expected_n = sessionize_batch(chunks, DEFAULT_CONFIG).count()
    n_chunks = enqueue_chunks(qdir, chunks)

    def _deliver():
        # Fresh result dir + checkpoint per run; the queue log is
        # append-only (offsets live in the checkpoint), so each run
        # replays the identical enqueued workload from offset zero.
        # Timed: start to delivery of every expected segment.
        rdir = tempfile.mkdtemp(prefix="spbenchr_")
        ckpt = tempfile.mkdtemp(prefix="spbenchck_")
        query = start_flagship(spark, qdir, rdir, ckpt)
        try:
            deadline = time.time() + 300
            delivered = 0
            while time.time() < deadline:
                delivered = sum(
                    1 for f in os.listdir(rdir) if f.endswith(".json")
                )
                if delivered >= expected_n:
                    break
                # the poll period is measurement-completion latency, not
                # pipeline work: a coarse poll adds up to its full period
                # to every reading. listdir of a few-thousand-file dir is
                # ~1 ms, so the 50 ms poll costs nothing measurable.
                time.sleep(0.05)
        except BaseException:
            query.stop()
            raise
        return query, rdir, ckpt, delivered

    def _settle(run) -> tuple[int, int]:
        # drain and stop outside the timed region
        query, rdir, ckpt, delivered = run
        batches = drain_and_stop(query, ckpt, n_chunks, 60) or 0
        for d in (rdir, ckpt):
            shutil.rmtree(d, ignore_errors=True)
        return delivered, batches

    timed = _time_passes([(label, _deliver)], cutoff=None,
                         settle=_settle)[label]
    el = timed.best
    # delivered count of the fastest pass (the first one on a tie)
    delivered = timed.outs[timed.runs.index(el)][0]
    n_streams = chunks.select("session_id").distinct().count()
    out = {
        "streams": int(n_streams),
        "input_chunks": int(n_chunks),
        "segments": int(delivered),
        "expected_segments": int(expected_n),
        "value": round(el, 4),
        "chunks_per_sec": round(n_chunks / el, 1),
        # every pass's wall time + its micro-batch count: two slow
        # passes with unchanged batch counts = host noise; divergent
        # batch counts or a one-sided slowdown = investigate
        "runs": [round(r, 2) for r in timed.runs],
        "nb": [nb for _, nb in timed.outs],
    }
    print(
        f"# flagship[{label}] queue->sessionizer->sink: {el:.3f}s "
        f"({out['chunks_per_sec']} chunks/s, "
        f"{delivered}/{expected_n} segments, {n_streams} streams)",
        file=sys.stderr,
    )
    shutil.rmtree(qdir, ignore_errors=True)
    return out


def _bench_flagship(spark, sf_dir: str) -> dict:
    from pyspark.sql import functions as F

    from streamprocess_spark.io.tables import load_tables
    from streamprocess_spark.session import rocksdb_state_conf
    from streamprocess_spark.streaming.sessionizer import (
        DEFAULT_CONFIG,
        chunks_from_events,
    )

    ev = load_tables(spark, sf_dir)["events"]
    chunks = chunks_from_events(ev, DEFAULT_CONFIG, max_users=N_STREAMS)
    out = _flagship_once(spark, chunks, "even")

    # Skewed leg: real session traffic is Zipfian, not even. Merge ~30%
    # of the users into one hot session BEFORE chunks_from_events so
    # the hot stream gets consistent seq/offset numbering, then run the
    # identical pipeline. Per-key sessionizer state is bounded
    # (segments emit and are discarded), so the hot key should cost
    # only its share.
    ev_skew = ev.filter(F.col("user_id") < N_STREAMS).withColumn(
        "user_id",
        F.when(F.col("user_id") % 10 < 3, F.lit(0)).otherwise(
            F.col("user_id")
        ),
    )
    chunks_skew = chunks_from_events(ev_skew, DEFAULT_CONFIG)
    out["skew"] = _flagship_once(spark, chunks_skew, "skew")

    # 1,000-stream leg: the state-store growth story — bounded per-key
    # state, T8 reaping — exercised at 10x the stream count.
    chunks_scale = chunks_from_events(
        ev, DEFAULT_CONFIG, max_users=SCALE_STREAMS
    )
    out["scale"] = _flagship_once(
        spark, chunks_scale, f"scale-{SCALE_STREAMS}"
    )

    # RocksDB legs: a 100 TB deployment with millions of live sessions
    # keeps state in RocksDBStateStoreProvider, so the even and
    # 1,000-stream workloads re-run under the engine's RocksDB profile
    # (provider + changelog checkpointing, see
    # session.rocksdb_state_conf). Delivered segments must be
    # provider-invariant.
    with _spark_conf(spark, rocksdb_state_conf()):
        out["rocksdb"] = _flagship_once(spark, chunks, "rocksdb")
        out["scale_rocksdb"] = _flagship_once(
            spark, chunks_scale, f"scale-{SCALE_STREAMS}-rocksdb",
        )
    return out


def _sf_of(sf_dir: str) -> float | None:
    """The scale factor named by a trailing `sf<number>` in the dir
    name (`/data/sf0.1` -> 0.1), else None."""
    m = re.search(r"sf(\d+(?:\.\d*)?)$", os.path.basename(sf_dir.rstrip("/")))
    return float(m.group(1)) if m else None


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    skip_deep = bool(os.environ.get("SPARK_GRAFT_SKIP_DEEP"))
    from streamprocess_spark import get_spark
    from streamprocess_spark.plans import QUERIES
    from streamprocess_spark.plans.registry import _ensure_loaded

    _ensure_loaded()
    spark = get_spark(app_name="streamprocess-bench")
    spark.sparkContext.setLogLevel("ERROR")

    bench_names = [n for n, s in sorted(QUERIES.items()) if s.bench]

    # warm the JVM + staged events copy once (not counted)
    _run_full(QUERIES[bench_names[0]].builder(spark, sf_dir))

    best = _bench_queries(spark, bench_names, sf_dir)
    result = {
        "metric": "headline_queries_total_runtime",
        "value": round(sum(best.values()), 4),
        "unit": "sec",
        "timing_action": TIMING_ACTION,
        "queries": {n: round(t, 4) for n, t in best.items()},
        "sf": _sf_of(sf_dir),
    }

    # streaming throughput: full events replay through the watermarked
    # tumbling-window aggregation (micro-batched availableNow run to a
    # converged sink) — the §6 "streaming" harness shape, reported as
    # end-to-end rows/sec of the stateful pipeline
    if "stream_tumbling_window" in QUERIES:
        import duckdb

        from streamprocess_spark.streaming import core as _score

        n_events = duckdb.sql(
            f"SELECT count(*) FROM '{os.path.join(sf_dir, 'events.parquet')}'"
        ).fetchone()[0]
        timed = _time_passes(
            [("replay", lambda: QUERIES["stream_tumbling_window"]
              .builder(spark, sf_dir).count())],
            cutoff=None,
            settle=lambda rows: (rows, int(_score.LAST_RUN.get("batches", 0))),
        )["replay"]
        el = timed.best
        result_stream = {
            "input_rows": int(n_events),
            "output_rows": int(timed.outs[-1][0]),
            "value": round(el, 4),
            "rows_per_sec": round(n_events / el, 1),
            # every pass's timing + micro-batch count, as in flagship
            "runs": [round(r, 2) for r in timed.runs],
            "nb": [nb for _, nb in timed.outs],
        }
        print(
            f"# streaming replay: {el:.3f}s "
            f"({result_stream['rows_per_sec']} rows/s)",
            file=sys.stderr,
        )
    else:
        result_stream = None

    # deep runs BEFORE the flagship streaming section: run after it, deep
    # inherits the flagship's JVM heap/GC state (a phantom 1.9x
    # "regression" on unchanged code)
    if not skip_deep:
        t0 = time.perf_counter()
        deep_dir = ensure_deep_dir(sf_dir)
        gen_s = time.perf_counter() - t0
        print(f"# deep x{DEEP_FACTOR} data ready in {gen_s:.1f}s", file=sys.stderr)
        deep_best = _bench_queries(spark, bench_names, deep_dir, "deep ")
        result["deep"] = {
            "factor": DEEP_FACTOR,
            "value": round(sum(deep_best.values()), 4),
            "queries": {n: round(t, 4) for n, t in deep_best.items()},
        }

    # ANN result quality at scale
    if not os.environ.get("SPARK_GRAFT_SKIP_ANN_RECALL"):
        result["ann_recall"] = _bench_ann_recall(
            spark, sf_dir, deep=not skip_deep)

    # end-to-end corpus-curation DAG
    if not os.environ.get("SPARK_GRAFT_SKIP_CURATION"):
        result["curation"] = _bench_curation(spark, sf_dir)

    # flagship stateful path: priority-queue DataSource -> sessionizer
    # (applyInPandasWithState) -> result-store sink, the reference's
    # 100-concurrent-streams serving shape (README.md:34). Reported as
    # end-to-end chunk rows/sec from stream start to full delivery of
    # every expected segment (expected set = the batch sessionizer on
    # identical chunks; enqueue is producer-side setup, not measured).
    # Runs LAST so its heap churn cannot contaminate the query timings.
    if not os.environ.get("SPARK_GRAFT_SKIP_FLAGSHIP"):
        result["flagship"] = _bench_flagship(spark, sf_dir)

    # scale soak: dedup/ANN family at x10 vs x100 — measured evidence
    # for the near-linear claims. Runs LAST: its x100 legs churn the
    # heap hard, and the soak metric is a ratio of two runs in the
    # same JVM state, so ordering cannot bias it the way it would the
    # absolute flagship/headline figures (first measured run: flagship
    # dropped 16% when the soak preceded it).
    if not os.environ.get("SPARK_GRAFT_SKIP_SOAK"):
        result["soak"] = _bench_soak(spark, sf_dir)

    if result_stream is not None:
        result["streaming"] = result_stream

    result["regression_gate"] = _regression_gate(result)
    # Targeted noise-rejection retry: this host shows run-level noise
    # bursts (unrelated, unchanged queries inflate 1.5-2x together in
    # one bench process and measure clean in the next). Each flagged
    # query gets two fresh re-measurements, interleaved across the
    # flagged set, and the min stands: a REAL regression re-measures as
    # slow and keeps its flag, a burst artifact clears. Each pass also
    # times one fixed cheap REFERENCE query; if it reads slow too, the
    # flag window was host weather (recorded under retried["_ref"],
    # never used in a gate decision). Throughput sections are not
    # retried (a full flagship/streaming rerun is not noise-shaped).
    per_query = [k for k in result["regression_gate"]["flagged"]
                 if not k.startswith(("flagship", "streaming:", "soak:",
                                      "curation:", "ann_recall:"))]
    retried: dict[str, dict] = {}
    if per_query:
        deep_dir_r = None if skip_deep else ensure_deep_dir(sf_dir)
        resolved: list[tuple[str, dict, str, str]] = []
        for key in per_query:
            if key.startswith("deep:"):
                target, q = result["deep"]["queries"], key[5:]
                tdir = deep_dir_r
            else:
                target, q, tdir = result["queries"], key, sf_dir
            if tdir is not None:
                resolved.append((key, target, q, tdir))
        ref_name = "q55_ocr_lines" if "q55_ocr_lines" in QUERIES \
            else bench_names[0]
        timed = _time_passes(
            [(key, _query_job(spark, QUERIES[q].builder, tdir))
             for key, _, q, tdir in resolved]
            + [("_ref", _query_job(spark, QUERIES[ref_name].builder,
                                   sf_dir))],
            cutoff=None,
        )
        for key, target, q, _ in resolved:
            first = target[q]
            best = min(first, timed[key].best)
            print(f"# gate retry {key}: {first:.3f}s -> {best:.3f}s",
                  file=sys.stderr)
            # keep the flagged measurement next to the retry, so a
            # flagged-then-cleared query stays machine-readable
            retried[key] = {"first": first, "retry": round(best, 4)}
            target[q] = round(best, 4)
        retried["_ref"] = {"query": ref_name,
                           "runs": [round(r, 4) for r in timed["_ref"].runs]}
        if "deep" in result:
            result["deep"]["value"] = round(
                sum(result["deep"]["queries"].values()), 4)
        result["value"] = round(sum(result["queries"].values()), 4)
        result["regression_gate"] = _regression_gate(result)
    result["regression_gate"]["retried"] = retried
    print(json.dumps(result))
    print(json.dumps(_compact(result)))
    spark.stop()


def _compact(result: dict) -> dict:
    """The final stdout line. Only the last 2000 chars of stdout are
    archived, and the full result line exceeds that once the
    flagship/soak/recall sections are present, so this summary must
    always fit inside the tail. It is self-sufficient for
    _regression_gate's history windows (timing_action, sf, per-query
    and deep timings, the three throughput medians, soak ratios), so a
    tail-parsed run still feeds every gate next time.

    Every throughput section carries ALL pass timings ("runs",
    seconds) and per-pass micro-batch counts ("nb"), so a flag can be
    adjudicated from the tail alone. Byte-budget key map: leg "cps" =
    chunks_per_sec (full key kept at the top flagship level, where the
    gate's history reader needs it); soak queries flatten to
    {qNN: ratio}; ann_recall keys are the queries' numeric prefixes
    (q49/q73/q99/q111) with values [reading, floor]."""
    compact = {
        k: result[k]
        for k in ("metric", "value", "unit", "sf", "timing_action",
                  "queries")
        if k in result
    }
    if "deep" in result:
        compact["deep"] = result["deep"]

    def _tp(sec: dict, cps_key: str = "chunks_per_sec") -> dict:
        keep = {}
        if sec.get("chunks_per_sec") is not None:
            keep[cps_key] = sec["chunks_per_sec"]
        if sec.get("rows_per_sec") is not None:
            keep["rows_per_sec"] = sec["rows_per_sec"]
        # per-pass seconds at 1 decimal in the tail (byte budget; the
        # full line keeps 2) — adjudication needs the cold/warm split
        # and cross-pass shape, not centiseconds
        if sec.get("runs") is not None:
            keep["runs"] = [round(r, 1) for r in sec["runs"]]
        if sec.get("nb") is not None:
            keep["nb"] = sec["nb"]
        return keep

    fs = result.get("flagship") or {}
    if fs:
        compact["flagship"] = _tp(fs)
        for leg in _FLAGSHIP_LEGS:
            if fs.get(leg):
                compact["flagship"][leg] = _tp(fs[leg], cps_key="cps")
    if result.get("streaming"):
        compact["streaming"] = _tp(result["streaming"])
    if result.get("curation"):
        compact["curation"] = {
            "docs_per_sec": result["curation"].get("docs_per_sec"),
            "verified": result["curation"].get("verified")}
    if result.get("soak"):
        # short `qNN` keys keep the worst-case tail in budget;
        # _regression_gate resolves history under either key form
        compact["soak"] = {"queries": {
            q.split("_")[0]: s.get("ratio")
            for q, s in (result["soak"].get("queries") or {}).items()}}
    if result.get("ann_recall"):
        compact["ann_recall"] = {
            leg: {q.split("_")[0]: [s["recall_at_5"], s["floor"]]
                  for q, s in queries.items()}
            for leg, queries in result["ann_recall"].items()}
    flags = sorted(result["regression_gate"]["flagged"])
    # cap so a heavily-flagged run cannot push the headline out of the
    # tail; the full flag dict is in the (truncatable) full line and
    # n_flagged reports the true count
    compact["flagged"] = flags[:3]
    if len(flags) > 3:
        compact["n_flagged"] = len(flags)
    return compact


_GATE_RATIO = 1.5


def _regression_gate(result: dict, here: str | None = None) -> dict:
    """Compare this run against the committed BENCH_r*.json history at
    the same sf, so a round-over-round regression cannot land silently.
    Per-query timings slower than _GATE_RATIO x the median of the last
    <=3 methodology-matched rounds are flagged in the output JSON and
    shouted to stderr; an absolute floor of 0.5 s ignores warmup
    jitter. Throughput sections gate against the median of the last
    <=3 rounds; soak ratios, flagship leg ratios, segment delivery,
    curation replay and ANN recall floors are absolute gates. `here`
    overrides the history directory (tests only)."""
    import glob as _glob
    import statistics

    if here is None:
        here = os.path.dirname(os.path.abspath(__file__))
    rounds: list[tuple[int, dict]] = []
    for p in _glob.glob(os.path.join(here, "BENCH_r*.json")):
        m = re.search(r"BENCH_r(\d+)\.json$", p)
        if not m:
            continue
        try:
            with open(p) as f:
                body = json.load(f)
        except (OSError, ValueError):
            continue
        parsed = body.get("parsed", body)
        if isinstance(parsed, dict) and "queries" in parsed:
            rounds.append((int(m.group(1)), parsed))
    # key on the round number only: two files parsing to the same round
    # (BENCH_r7.json + BENCH_r07.json) must not fall through to dict
    # comparison and TypeError
    rounds.sort(key=lambda t: t[0])
    if not rounds:
        return {"baseline_round": None, "threshold": _GATE_RATIO,
                "flagged": {}}
    # Only rounds at this run's scale factor are history: timings and
    # throughput at another sf measure a different workload (an sf0.001
    # streaming replay reads ~0.02x an sf0.1 one). With none left, only
    # the absolute gates below apply.
    rounds = [(n, r) for n, r in rounds if r.get("sf") == result.get("sf")]
    prior_n = rounds[-1][0] if rounds else None
    # Per-query timings compare ONLY against rounds measured with the
    # same timing action: `.count()`-era numbers under-measure any query
    # whose count plan prunes work, so a cross-methodology "regression"
    # would be an artifact. Throughput sections (flagship/streaming/
    # curation) are wall-clock pipelines unaffected by the query timing
    # action and keep the full history.
    q_rounds = [
        (n, r) for n, r in rounds
        if r.get("timing_action") == result.get("timing_action")
    ]
    flagged: dict[str, dict] = {}
    # Per-query timings gate against the MEDIAN of the last <=3 rounds:
    # a uniform 7-47% host-state drift on unchanged plans has brought a
    # query within noise of a single-prior-round 1.5x threshold.
    for section in ("queries", "deep"):
        now = result.get(section) or {}
        if section == "deep":
            now = now.get("queries") or {}
        for q, t in now.items():
            hist = []
            for _, r in q_rounds[-3:]:
                ref = r.get(section) or {}
                if section == "deep":
                    ref = ref.get("queries") or {}
                if ref.get(q):
                    hist.append(ref[q])
            if not hist:
                continue
            t0 = statistics.median(hist)
            if t > _GATE_RATIO * t0 and t > 0.5:
                key = q if section == "queries" else f"deep:{q}"
                flagged[key] = {"now": t, "prev": round(t0, 4),
                                "window": hist,
                                "ratio": round(t / t0, 2)}
                print(f"# REGRESSION {key}: median {t0:.3f}s -> {t:.3f}s "
                      f"({t / t0:.2f}x)", file=sys.stderr)
    # throughput sections: bigger is better, so a regression is
    # < baseline / _GATE_RATIO. Baseline is the MEDIAN of the last <=3
    # rounds carrying the metric, not the single prior round: these are
    # wall-clock streaming figures with large host-state variance
    # (recorded history 1173 -> 1055 -> 1993 chunks/s on unchanged
    # pipeline code), and gating against one lucky round ratchets the
    # bar to its noise peak — a healthy run above the recorded median
    # would flag as a phantom regression.
    for section, metric in (("flagship", "chunks_per_sec"),
                            ("streaming", "rows_per_sec"),
                            ("curation", "docs_per_sec")):
        now_v = (result.get(section) or {}).get(metric)
        hist = [(r.get(section) or {}).get(metric)
                for _, r in rounds[-3:]]
        hist = [v for v in hist if v]
        # skip only when the section is genuinely absent (skipped via
        # env) or has no history; a metric of 0 with history is a total
        # collapse — exactly what the gate exists to catch
        if now_v is None or not hist:
            continue
        ref_v = statistics.median(hist)
        if now_v < ref_v / _GATE_RATIO:
            key = f"{section}:{metric}"
            flagged[key] = {"now": now_v, "prev": ref_v,
                            "window": hist,
                            "ratio": round(now_v / ref_v, 2)}
            print(f"# REGRESSION {key}: median{hist} -> {now_v} "
                  f"({now_v / ref_v:.2f}x)", file=sys.stderr)
    # scale-soak gate: the threshold is absolute (a super-linear
    # blowup is a scale bug whatever last round measured), but the
    # VALUE it is applied to is the median of this run's ratio plus the
    # last <=3 methodology-matched rounds' ratios (minute-scale
    # single-pass legs have shown 1.0-7.2x host-state spread on
    # unchanged code — one noisy reading must not flag, while a
    # genuinely quadratic operator pushes the median over the bar
    # within a round of landing). No history => the current ratio IS
    # the median, so a first-round blowup still flags. Stated cost of
    # the median window: a super-linear regression landing after a
    # green history ([4,4,4,20] -> median 4) is not median-flagged for
    # 1-2 rounds — so a CATASTROPHIC current-round reading (> 2x the
    # gate on its own) flags immediately, median notwithstanding:
    # genuine quadratics blow far past 2x the gate, host noise
    # historically stays under it (recorded spread 1.0-7.2x vs the 30x
    # hard bar).
    for q, s in ((result.get("soak") or {}).get("queries") or {}).items():
        hist = []
        for _, r in q_rounds[-3:]:
            sq = (r.get("soak") or {}).get("queries") or {}
            # history keys may be full query names (older full-line
            # artifacts) or the compact-tail short `qNN` prefixes
            ref = sq.get(q)
            if ref is None:
                ref = sq.get(q.split("_")[0])
            # history may be the full dict (old full-line artifacts) or
            # the flattened compact-tail float
            if isinstance(ref, dict):
                ref = ref.get("ratio")
            if ref is not None:
                hist.append(ref)
        window = hist + [s["ratio"]]
        med = statistics.median(window)
        if s["ratio"] > 2 * SOAK_MAX_RATIO:
            key = f"soak:{q}"
            flagged[key] = {"now": s["hi_sec"], "prev": s["lo_sec"],
                            "ratio": s["ratio"], "window": window,
                            "median": round(med, 2), "hard": True}
            print(f"# SCALE REGRESSION {key} (hard): x10 {s['lo_sec']}s "
                  f"-> x100 {s['hi_sec']}s (ratio {s['ratio']}x > "
                  f"{2 * SOAK_MAX_RATIO}x current-round bar)",
                  file=sys.stderr)
            continue
        if med > SOAK_MAX_RATIO:
            key = f"soak:{q}"
            flagged[key] = {"now": s["hi_sec"], "prev": s["lo_sec"],
                            "ratio": s["ratio"], "window": window,
                            "median": round(med, 2)}
            print(f"# SCALE REGRESSION {key}: x10 {s['lo_sec']}s -> "
                  f"x100 {s['hi_sec']}s (median {med:.1f}x of "
                  f"{window} > {SOAK_MAX_RATIO}x)", file=sys.stderr)
    # flagship leg gates: each leg must stay within 2x of its base leg's
    # throughput (bounded per-key state for skew/scale, provider and
    # checkpoint-profile parity for the rest)
    fs = result.get("flagship") or {}
    base_of = {"even": fs.get("chunks_per_sec"),
               "scale": (fs.get("scale") or {}).get("chunks_per_sec")}
    for leg, base_name in _FLAGSHIP_LEGS.items():
        base_v = base_of[base_name]
        leg_v = (fs.get(leg) or {}).get("chunks_per_sec")
        # `is not None`, not truthiness: a leg that ran and delivered 0
        # chunks/s is a total collapse and must flag (the same falsy-0
        # class the section-metric loop above already closes); only a
        # genuinely absent leg skips
        if leg_v is not None and base_v and leg_v < base_v / 2.0:
            flagged[f"flagship_{leg}:chunks_per_sec"] = {
                "now": leg_v, "prev": base_v,
                "ratio": round(leg_v / base_v, 2)}
            print(f"# {leg.upper()} REGRESSION flagship: {base_name} "
                  f"{base_v} -> {leg} {leg_v} chunks/s", file=sys.stderr)
    # segment-delivery invariant: every flagship leg must deliver
    # exactly the batch-sessionizer's expected segment set — a short
    # count is dropped results (e.g. a state-store provider changing
    # semantics), not a throughput matter
    for key_name, sec in (("flagship", fs),) + tuple(
            (f"flagship_{leg}", fs.get(leg) or {}) for leg in _FLAGSHIP_LEGS):
        exp = sec.get("expected_segments")
        got = sec.get("segments")
        if exp is not None and got != exp:
            flagged[f"{key_name}:segments"] = {
                "now": got, "prev": exp,
                "ratio": round((got or 0) / exp, 2) if exp else 0.0}
            print(f"# SEGMENT REGRESSION {key_name}: {got} != "
                  f"expected {exp}", file=sys.stderr)
    # curation replay + ANN recall floors are absolute gates
    cur = result.get("curation") or {}
    if cur and not cur.get("verified", True):
        flagged["curation:verified"] = {"now": 0, "prev": 1, "ratio": 0.0}
        print("# CURATION REGRESSION: DuckDB replay mismatch",
              file=sys.stderr)
    for leg, queries in (result.get("ann_recall") or {}).items():
        for q, s in queries.items():
            if s["recall_at_5"] < s["floor"]:
                key = f"ann_recall:{leg}:{q}"
                flagged[key] = {"now": s["recall_at_5"],
                                "prev": s["floor"],
                                "ratio": round(
                                    s["recall_at_5"] / s["floor"], 2)}
                print(f"# RECALL REGRESSION {key}: {s['recall_at_5']} < "
                      f"floor {s['floor']}", file=sys.stderr)
    return {"baseline_round": prior_n, "threshold": _GATE_RATIO,
            # which rounds the per-query medians actually came from —
            # empty on the first round after a timing-methodology
            # change, making the skipped comparisons visible instead of
            # implying the new numbers were gated against baseline_round
            "query_history_rounds": [n for n, _ in q_rounds[-3:]],
            "flagged": flagged}


if __name__ == "__main__":
    main()
