"""The ``headline`` workload: the ten ``bench=True`` registered queries,
each built (Python → JVM plan construction) and executed with a noop
write, pass after pass, on tables generated from the seed.

The tables follow the repository's table schemas and the value ranges
of its fixture data at scale factor ``SF``; every query is checked
against its DuckDB oracle on the same parquet files after timing.
"""

from __future__ import annotations

import os
import time

import numpy as np

from perfbench.measure import pct

SF = 0.02
_WORDS = ("a the data spark stream batch window row column table query scan "
          "filter join group agg sort hash key value order line part customer "
          "vector fast slow big small merge").split()
_LANGS = ("en", "en", "en", "de", "fr", "es", "zh")


def _ts(days: np.ndarray, base: str) -> np.ndarray:
    return (np.datetime64(base, "us") + (days * 86_400_000_000).astype("timedelta64[us]"))


def generate_tables(out_dir: str, seed: int, sf: float = SF) -> None:
    """Write one single-row-group parquet file per table, deterministic
    for ``seed``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    from streamprocess_spark.schemas import TABLE_NAMES

    rng = np.random.default_rng(seed)
    os.makedirs(out_dir, exist_ok=True)
    n_cust, n_supp, n_part = int(150_000 * sf), int(10_000 * sf), int(200_000 * sf)
    n_ord, n_li, n_ev = int(1_500_000 * sf), int(6_000_000 * sf), int(1_000_000 * sf)
    n_doc, n_emb = int(50_000 * sf), 1000
    i32, i64, f64, s = pa.int32(), pa.int64(), pa.float64(), pa.string()
    money = lambda lo, hi, n: np.round(rng.uniform(lo, hi, n), 2)  # noqa: E731

    tables = {
        "region": pa.table({"r_regionkey": pa.array(range(5), i32), "r_name": pa.array(
            ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"], s)}),
        "nation": pa.table({
            "n_nationkey": pa.array(range(25), i32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)], s),
            "n_regionkey": pa.array([i % 5 for i in range(25)], i32)}),
        "customer": pa.table({
            "c_custkey": pa.array(np.arange(n_cust), i64),
            "c_name": pa.array([f"Customer#{i:09d}" for i in range(n_cust)], s),
            "c_nationkey": pa.array(rng.integers(0, 25, n_cust), i32),
            "c_acctbal": pa.array(money(-999, 9999, n_cust), f64),
            "c_mktsegment": pa.array(rng.choice(
                ["HOUSEHOLD", "MACHINERY", "AUTOMOBILE", "BUILDING", "FURNITURE"], n_cust), s)}),
        "supplier": pa.table({
            "s_suppkey": pa.array(np.arange(n_supp), i64),
            "s_name": pa.array([f"Supplier#{i:09d}" for i in range(n_supp)], s),
            "s_nationkey": pa.array(rng.integers(0, 25, n_supp), i32),
            "s_acctbal": pa.array(money(-999, 9999, n_supp), f64)}),
        "part": pa.table({
            "p_partkey": pa.array(np.arange(n_part), i64),
            "p_name": pa.array(rng.choice(["large ring", "hot bolt", "blue ring",
                                           "red gear", "steel pin"], n_part), s),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, n_part)], s),
            "p_type": pa.array(rng.choice(["PROMO", "LARGE", "ECONOMY", "STANDARD",
                                           "SMALL", "MEDIUM"], n_part), s),
            "p_size": pa.array(rng.integers(1, 51, n_part), i32),
            "p_retailprice": pa.array(np.round(900 + (np.arange(n_part) % 1000) / 10, 2), f64)}),
        "orders": pa.table({
            "o_orderkey": pa.array(np.arange(n_ord), i64),
            "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), i64),
            "o_orderstatus": pa.array(rng.choice(["O", "F", "P"], n_ord), s),
            "o_totalprice": pa.array(money(900, 450_000, n_ord), f64),
            "o_orderdate": pa.array(_ts(rng.integers(0, 2404, n_ord), "1995-01-01")),
            "o_orderpriority": pa.array(rng.choice(
                ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"], n_ord), s)}),
        "lineitem": pa.table({
            "l_orderkey": pa.array(rng.integers(0, n_ord, n_li), i64),
            "l_partkey": pa.array(rng.integers(0, n_part, n_li), i64),
            "l_suppkey": pa.array(rng.integers(0, n_supp, n_li), i64),
            "l_linenumber": pa.array(rng.integers(1, 8, n_li), i32),
            "l_quantity": pa.array(rng.integers(1, 51, n_li).astype(float), f64),
            "l_extendedprice": pa.array(money(900, 105_000, n_li), f64),
            "l_discount": pa.array(rng.integers(0, 11, n_li) / 100.0, f64),
            "l_tax": pa.array(rng.integers(0, 9, n_li) / 100.0, f64),
            "l_returnflag": pa.array(rng.choice(["A", "N", "R"], n_li), s),
            "l_linestatus": pa.array(rng.choice(["O", "F"], n_li), s),
            "l_shipdate": pa.array(_ts(rng.integers(1, 2498, n_li), "1995-01-01"))}),
        "events": pa.table({
            "event_id": pa.array(np.arange(n_ev), i64),
            "ts": pa.array(np.sort(np.datetime64("2024-01-01", "us") + rng.integers(
                0, 30 * 86_400_000_000, n_ev).astype("timedelta64[us]"))),
            "user_id": pa.array(rng.integers(0, 1500, n_ev), i64),
            "event_type": pa.array(rng.choice(
                ["signup", "click", "error", "view", "purchase"], n_ev), s),
            "value": pa.array(np.round(rng.exponential(50.0, n_ev), 2), f64),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)], s)}),
        "embeddings": pa.table({
            "vec_id": pa.array(np.arange(n_emb), i64),
            "embedding": pa.array(list(rng.normal(0, 0.13, (n_emb, 64)).astype(np.float32)),
                                  pa.list_(pa.float32())),
            "label": pa.array(rng.integers(0, 10, n_emb), i32)}),
    }
    texts = [" ".join(rng.choice(_WORDS, int(rng.integers(8, 90)))) for _ in range(n_doc)]
    tables["documents"] = pa.table({
        "doc_id": pa.array(np.arange(n_doc), i64),
        "text": pa.array(texts, s),
        "lang": pa.array(rng.choice(_LANGS, n_doc), s),
        "source": pa.array([f"src{k}" for k in rng.integers(0, 20, n_doc)], s),
        "n_chars": pa.array([len(t) for t in texts], i64)})
    if set(tables) != set(TABLE_NAMES):
        raise RuntimeError("generated tables no longer match schemas.TABLE_NAMES")
    for name, t in tables.items():
        pq.write_table(t, os.path.join(out_dir, f"{name}.parquet"))


def _catalyst_ms(df) -> dict:
    """Force the query's own plan through optimization and planning and
    read the Catalyst phase tracker (traced runs only)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        opt = phases.get(k)
        out[k] = float(opt.get().durationMs()) if opt.isDefined() else 0.0
    return out


def _oracle_failures(sf_dir: str, results: dict) -> set[str]:
    """Names of the queries whose collected Spark result is missing or
    differs from DuckDB running their oracle SQL on the same parquet,
    compared as the repository's oracle tests compare them."""
    from streamprocess_spark.plans import oracle_sql_map
    from tests.oracle_utils import compare, duck_connection

    con = duck_connection(sf_dir)
    sqls = oracle_sql_map()
    bad = {name for name, got in results.items()
           if got is None or compare(got, con.execute(sqls[name]).fetchdf())}
    con.close()
    return bad


def headline(run) -> dict:
    """One cold pass in set-up that collects every result, then at least
    two passes over the queries with noop writes, and another only while
    it is expected to end within ``run.seconds``. A query's latency is
    its median over the passes, and the pass total is the sum of those
    medians. The oracle check on the collected results is returned as
    ``after_stop``, to run once the session and the memory sampling have
    stopped, so DuckDB's memory is not counted as the program's."""
    from streamprocess_spark.plans import QUERIES
    from streamprocess_spark.plans.registry import _ensure_loaded

    from perfbench.trace import SpanWriter

    sf_dir = run.path("tables")
    t_gen = time.perf_counter()
    generate_tables(sf_dir, run.seed)
    run.setup["data_gen_s"] = time.perf_counter() - t_gen
    _ensure_loaded()
    names = sorted(n for n, s in QUERIES.items() if s.bench)

    spark = run.spark
    spans = SpanWriter(run.span_dir) if run.span_dir else None

    def execute(name: str) -> dict:
        """Build and noop-write one query. In traced runs, leave a
        ``plan.build``, ``catalyst`` and ``exec.noop_write`` span with
        the query name as trace id."""
        t0 = time.time()
        n0 = run.py4j.n if run.py4j else 0
        ok = True
        t_built = t_planned = None
        out = {"py4j": 0.0, "analysis": 0.0, "optimization": 0.0, "planning": 0.0}
        try:
            df = QUERIES[name].builder(spark, sf_dir)
            t_built = time.time()
            if spans:
                out["py4j"] = float(run.py4j.n - n0)
                spans.emit("plan.build", t0, t_built, parent="query", trace=name,
                            py4j_calls=out["py4j"])
                q_cat = _catalyst_ms(df)
                t_planned = time.time()
                out.update(q_cat)
                spans.emit("catalyst", t_built, t_planned, parent="query", trace=name,
                            **{f"{k}_ms": v for k, v in q_cat.items()})
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # a failing query is counted, not fatal
            run.stderr(f"headline: {name} raised {type(e).__name__}: {e}")
            ok = False
        t1 = time.time()
        if spans and t_built is not None:
            spans.emit("exec.noop_write", t_planned or t_built, t1, parent="query",
                        trace=name, ok=ok)
        out.update(ms=(t1 - t0) * 1000.0, build_ms=((t_built or t1) - t0) * 1000.0, ok=ok)
        return out

    # Warm-up (set-up): the cold pass stages the scans, forks the Python
    # workers and compiles each query's stages, and collects the results
    # for the oracle check made after timing.
    results = {}
    for name in names:
        try:
            results[name] = QUERIES[name].builder(spark, sf_dir).toPandas()
        except Exception as e:
            run.stderr(f"headline: {name} raised {type(e).__name__}: {e}")
            results[name] = None
    run.end_setup()
    done: dict[str, list[dict]] = {name: [] for name in names}
    # Whole passes only: what the JVM holds live at the end depends on
    # which queries ran last (up to 250 MB more after q48-q55). The first
    # measured pass runs ~15% slower than the next, so runs must agree on
    # the number of passes: one that squeezed in a third read ~20% lower
    # than one that did not. Two passes of 6-9 s fill 15 s on a 4-core
    # host; a third starts only where a pass takes under half of that.
    t_end = time.time() + run.seconds
    passes, t_pass = 0, time.time()
    while passes < 2 or time.time() + (time.time() - t_pass) <= t_end:
        t_pass = time.time()
        for name in names:
            done[name].append(execute(name))
        passes += 1
    run.window = (run.setup_end, time.time())
    run.end_measured()
    run.units = passes
    run.attempted += passes * len(names)

    def med(key: str) -> dict[str, float]:
        return {name: pct([x[key] for x in xs], 50) for name, xs in done.items()}

    lat = med("ms")
    run.plan_build.append((sum(med("build_ms").values()), sum(med("py4j").values())))
    run.catalyst.append({c: sum(med(c).values())
                         for c in ("analysis", "optimization", "planning")})

    def check() -> None:
        bad = _oracle_failures(sf_dir, results)
        run.failed += sum(1 for name, xs in done.items() for x in xs
                          if not x["ok"] or name in bad)
        run.stderr(f"headline: {passes} passes in "
                   f"{run.window[1] - run.window[0]:.1f} s, median pass "
                   f"{sum(lat.values()) / 1000.0:.2f} s, "
                   f"oracle mismatches: {sorted(bad) or 'none'}")

    return {"latency": list(lat.values()),
            "final_latency": [sum(lat.values())],
            "after_stop": check}
