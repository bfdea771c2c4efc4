"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Workloads (see perfbench/README.md for why each exists and which layer
metric should move which end-to-end metric):

  serve_20   open-loop serving of 20 concurrent audio sessions
  headline   the ten headline batch queries

Run from the root of a checkout that holds ``streamprocess_spark``.
With ``--trace 0`` the last stdout line is a JSON record of the
end-to-end metrics; with ``--trace 1`` it holds the per-layer metrics
and a span report is written to ``.perfbench_out/``. Scratch files go
to ``.perfbench_work/`` and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time
import traceback

T_START = time.time()
ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
WORKLOADS = ("serve_20", "headline")
END_TO_END = {  # name -> unit
    "setup_s": "s",
    "latency_p50_ms": "ms",
    "latency_p99_ms": "ms",
    "final_latency_p50_ms": "ms",
    "memory_mb": "MB",
}
PER_LAYER = {
    "trigger.count": "count",
    "trigger.execution_ms": "ms",
    "trigger.latest_offset_ms": "ms",
    "trigger.query_planning_ms": "ms",
    "trigger.add_batch_ms": "ms",
    "trigger.wal_commit_ms": "ms",
    "trigger.commit_offsets_ms": "ms",
    "trigger.span_coverage": "ratio",
    "trigger.span_wall_coverage": "ratio",
    "queue_source.latest_offset_ms": "ms",
    "queue_source.partitions_ms": "ms",
    "queue_source.read_ms": "ms",
    "queue_source.rows_read": "count",
    "queue_source.lag_rows": "count",
    "queue_source.lag_rows_max": "count",
    "sessionizer.fn_ms": "ms",
    "sessionizer.groups": "count",
    "sessionizer.rows_in": "count",
    "sessionizer.segments_out": "count",
    "sessionizer.partition_skew": "ratio",
    "state.commit_ms": "ms",
    "state.rows_total": "count",
    "state.memory_bytes": "bytes",
    "result_sink.write_ms": "ms",
    "result_sink.rows_written": "count",
    "result_sink.commit_ms": "ms",
    "plan.build_ms": "ms",
    "plan.py4j_calls": "count",
    "catalyst.analysis_ms": "ms",
    "catalyst.optimization_ms": "ms",
    "catalyst.planning_ms": "ms",
    "exec.wall_ms": "ms",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.shuffle_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.tasks": "count",
    "gen.late_ms_p50": "ms",
    "gen.late_ms_max": "ms",
    "reference.sessionize_batch_s": "s",
    "setup.session_start_s": "s",
    "setup.data_gen_s": "s",
    "setup.warmup_s": "s",
}
# layers a workload does not run through report 0 and say so in the trace
BYPASSED = {
    "serve_20": ("catalyst.",),
    "headline": ("trigger.", "queue_source.", "sessionizer.", "state.",
                 "result_sink.", "gen.", "reference."),
}


class Run:
    """State of one benchmark run, handed to the workload function."""

    def __init__(self, workload: str, seed: int, seconds: int, traced: bool):
        self.workload, self.seed, self.seconds, self.traced = workload, seed, seconds, traced
        self.root = ROOT
        self.t_start = T_START
        self.work = os.path.join(ROOT, ".perfbench_work", str(os.getpid()))
        self.out_dir = os.path.join(ROOT, ".perfbench_out")
        self.span_dir = self.path("spans") if traced else None
        self.eventlog_dir = self.path("eventlog") if traced else None
        self.spark = self.listener = self.py4j = None
        self.setup: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.plan_build: list[tuple[float, float]] = []   # (ms, py4j calls)
        self.catalyst: list[dict] = []
        self.triggers: list[dict] = []
        self.window = (0.0, 0.0)
        self.units = 0
        self.attempted = self.failed = 0
        self.setup_end = 0.0
        self.mem = None
        self.jvm_pid: int | None = None
        self.jvm_live_mb = 0.0
        self.measured_end = 0.0

    def path(self, name: str) -> str:
        os.makedirs(self.work, exist_ok=True)
        return os.path.join(self.work, name)

    def end_setup(self) -> None:
        self.setup_end = time.time()

    def end_measured(self) -> None:
        """Mark the end of the measured region, stop sampling memory and
        read the JVM's live memory: the output checks that follow are not
        the program's footprint."""
        from perfbench.sparkrun import jvm_live_mb

        if not self.measured_end:
            self.measured_end = time.time()
            self.mem.stop()
            self.jvm_live_mb = jvm_live_mb(self.spark)

    def python_mb(self) -> tuple[float, float]:
        """Median and peak PSS of the Python processes (this one, the
        Python workers, the generator) over the measured region."""
        return self.mem.mb(self.setup_end, self.measured_end, without=self.jvm_pid)

    @staticmethod
    def stderr(msg: str) -> None:
        print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def _isolate_scratch(work: str) -> None:
    """Point every temp-file user (Python, the JVM, Spark's local dirs)
    at the run's scratch directory inside the checkout."""
    import tempfile

    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["TMPDIR"] = tmp
    os.environ["SPARK_LOCAL_DIRS"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = (
        os.environ.get("JAVA_TOOL_OPTIONS", "") + f" -Djava.io.tmpdir={tmp}").strip()
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH", "")) if p)
    tempfile.tempdir = None


def _median(xs) -> float:
    from perfbench.measure import pct

    return pct(xs, 50)


def end_to_end(run: Run, res: dict) -> dict:
    from perfbench.measure import pct

    return {
        "setup_s": run.setup_end - T_START,
        "latency_p50_ms": pct(res["latency"], 50),
        "latency_p99_ms": pct(res["latency"], 99),
        "final_latency_p50_ms": pct(res["final_latency"], 50),
        "memory_mb": run.jvm_live_mb + run.python_mb()[0],
    }


_TRIGGER_LAYERS = ("queue_source.", "sessionizer.", "result_sink.")


def _union_ms(intervals) -> float:
    total, hi = 0.0, float("-inf")
    for lo, end in sorted(intervals):
        if end > hi:
            total += end - max(lo, hi)
            hi = end
    return total * 1000.0


def trigger_coverage(triggers: list[dict], spans: list[dict]) -> list[dict]:
    """How far the source, sessionizer and sink spans of each trigger
    account for its ``triggerExecution``: their summed self time (which
    can exceed the trigger's wall time, as partitions run in parallel)
    and the wall time during which at least one of them was running."""
    out = []
    for t in triggers:
        own = [s for s in spans
               if s.get("trace") == t["batch_id"] and s["name"].startswith(_TRIGGER_LAYERS)]
        ex = max(1.0, t["execution_ms"])
        self_ms = sum(s["self_ms"] for s in own)
        wall_ms = _union_ms([(max(s["start"], t["start"]), min(s["end"], t["end"]))
                             for s in own if s["end"] > t["start"] and s["start"] < t["end"]])
        out.append({"batch_id": t["batch_id"], "execution_ms": ex,
                    "span_self_ms": self_ms, "span_wall_ms": wall_ms,
                    "self_coverage": self_ms / ex, "wall_coverage": wall_ms / ex,
                    "state_commit_ms": t["state_commit_ms"]})
    return out


def per_layer(run: Run, spans: list[dict], e2e: dict) -> dict:
    """Per-layer metrics of a traced run. Trigger and streaming-layer
    times are means per measured trigger; counts are totals over the
    measured region; plan, Catalyst and executor figures are per pass
    (headline) or per measured trigger (streaming)."""
    from collections import defaultdict

    m = {k: 0.0 for k in PER_LAYER}
    trig = run.triggers
    n = max(1, len(trig))
    if trig:
        m["trigger.count"] = float(len(trig))
        m["trigger.execution_ms"] = sum(t["execution_ms"] for t in trig) / n
        for key, phase in (("latest_offset", "latestOffset"), ("query_planning", "queryPlanning"),
                           ("add_batch", "addBatch"), ("wal_commit", "walCommit"),
                           ("commit_offsets", "commitOffsets")):
            m[f"trigger.{key}_ms"] = sum(t["phases"][phase] for t in trig) / n
        cov = trigger_coverage(trig, spans)
        ex_ms = sum(c["execution_ms"] for c in cov)
        m["trigger.span_coverage"] = sum(c["span_self_ms"] for c in cov) / ex_ms
        m["trigger.span_wall_coverage"] = sum(c["span_wall_ms"] for c in cov) / ex_ms
        m["state.commit_ms"] = sum(t["state_commit_ms"] for t in trig) / n
        m["state.rows_total"] = float(max(t["state_rows_total"] for t in trig))
        m["state.memory_bytes"] = float(max(t["state_memory_bytes"] for t in trig))
    ids = {t["batch_id"] for t in trig}
    mine = [s for s in spans if s.get("trace") in ids]
    tot: dict[str, float] = defaultdict(float)
    cnt: dict[str, float] = defaultdict(float)
    rows_per_part: dict[int, float] = defaultdict(float)
    for s in mine:
        tot[s["name"]] += s["self_ms"]
        cnt[s["name"]] += 1
        if s["name"] == "sessionizer.fn":
            cnt["sessionizer.rows_in"] += s["rows"]
            cnt["sessionizer.segments_out"] += s["segments"]
            rows_per_part[s["partition"]] += s["rows"]
        elif s["name"] == "queue_source.read":
            cnt["queue_source.rows_read"] += s["rows"]
        elif s["name"] == "result_sink.write":
            cnt["result_sink.rows_written"] += s["rows"]
    if trig:
        m["queue_source.latest_offset_ms"] = tot["queue_source.latest_offset"] / n
        m["queue_source.partitions_ms"] = tot["queue_source.partitions"] / n
        m["queue_source.read_ms"] = tot["queue_source.read"] / n
        m["queue_source.rows_read"] = cnt["queue_source.rows_read"]
        m["sessionizer.fn_ms"] = tot["sessionizer.fn"] / n
        m["sessionizer.groups"] = cnt["sessionizer.fn"]
        m["sessionizer.rows_in"] = cnt["sessionizer.rows_in"]
        m["sessionizer.segments_out"] = cnt["sessionizer.segments_out"]
        if rows_per_part:
            vals = list(rows_per_part.values())
            m["sessionizer.partition_skew"] = max(vals) / (sum(vals) / len(vals))
        m["result_sink.write_ms"] = tot["result_sink.write"] / n
        m["result_sink.rows_written"] = cnt["result_sink.rows_written"]
        m["result_sink.commit_ms"] = tot["result_sink.commit"] / n
    if run.plan_build:
        m["plan.build_ms"] = _median([b for b, _ in run.plan_build])
        m["plan.py4j_calls"] = _median([c for _, c in run.plan_build])
    for k in ("analysis", "optimization", "planning"):
        m[f"catalyst.{k}_ms"] = _median([c[k] for c in run.catalyst]) if run.catalyst else 0.0
    for key, val in run.layer.items():
        if key in m:
            m[key] = float(val)
    m["setup.session_start_s"] = run.setup.get("session_start_s", 0.0)
    m["setup.data_gen_s"] = run.setup.get("data_gen_s", 0.0)
    m["setup.warmup_s"] = max(0.0, e2e["setup_s"] - m["setup.session_start_s"]
                              - m["setup.data_gen_s"])
    return m


def main(argv=None) -> int:
    ap = argparse.ArgumentParser(description="streamprocess_spark benchmark")
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import streamprocess_spark  # noqa: F401
    except ImportError as e:
        print(f"perfbench: cannot import the program under test ({e}); run from "
              "the root of a streamprocess_spark checkout", file=sys.stderr)
        return 2

    run = Run(a.workload, a.seed, a.seconds, bool(a.trace))
    shutil.rmtree(run.work, ignore_errors=True)
    _isolate_scratch(run.work)

    def _alarm(signum, frame):
        raise TimeoutError("benchmark run exceeded its time limit")

    signal.signal(signal.SIGALRM, _alarm)
    signal.alarm(150)
    try:
        record = execute(run)
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        signal.alarm(0)
        from perfbench.measure import reap_descendants

        reap_descendants()
        shutil.rmtree(run.work, ignore_errors=True)
    print(json.dumps(record), flush=True)
    return 0


def execute(run: Run) -> dict:
    from perfbench import headline, streaming
    from perfbench.measure import MemorySampler
    from perfbench.sparkrun import (
        Py4jCounter,
        eventlog_totals,
        jvm_pid,
        make_listener,
        start_session,
        stop_session,
    )
    from perfbench.trace import (
        assign_triggers,
        layer_table,
        load_spans,
        trace_tables,
        write_report,
    )

    if run.span_dir:
        os.makedirs(run.span_dir)
    run.mem = MemorySampler().start()
    t0 = time.perf_counter()
    run.spark = start_session(run.eventlog_dir)
    run.jvm_pid = jvm_pid()
    run.setup["session_start_s"] = time.perf_counter() - t0
    try:
        if run.traced:
            run.listener = make_listener()
            run.spark.streams.addListener(run.listener)
            run.py4j = Py4jCounter(run.spark)
        fn = {"serve_20": streaming.serve, "headline": headline.headline}[run.workload]
        res = fn(run)
    finally:
        run.mem.stop()
        stop_session(run.spark)
    run.stderr(f"session stopped at {time.time() - T_START:.1f}s")
    if "after_stop" in res:    # output checks that need no session
        res["after_stop"]()
    e2e = end_to_end(run, res)
    run.stderr("memory: JVM after a full GC %.0f MB, Python processes median %.0f MB; "
               "PSS of every process in the measured region: median %.0f MB, peak %.0f MB"
               % (run.jvm_live_mb, run.python_mb()[0],
                  *run.mem.mb(run.setup_end, run.measured_end)))
    run.stderr(f"samples: latency n={len(res['latency'])}, "
               f"final latency n={len(res['final_latency'])}")
    if run.failed:
        run.stderr(f"{run.failed} of {run.attempted} operations failed")
    record = {"correct": run.failed == 0, "attempted": int(run.attempted),
              "failed": int(run.failed)}
    os.makedirs(run.out_dir, exist_ok=True)
    untraced = os.path.join(run.out_dir, f"untraced-{run.workload}-seed{run.seed}.json")
    if not run.traced:
        with open(untraced, "w") as f:
            json.dump(e2e, f)
        record["metrics"] = {k: {"value": v, "unit": END_TO_END[k]} for k, v in e2e.items()}
        run.stderr(" ".join(f"{k}={v:.4g}" for k, v in e2e.items()))
        return record

    spans = load_spans(run.span_dir)
    if run.triggers:
        assign_triggers(spans, run.triggers)
    ex = eventlog_totals(run.eventlog_dir, *run.window)
    units = run.units or max(1, len(run.triggers))
    for k, v in ex.items():
        run.layer[f"exec.{k}"] = v / units
    layer = per_layer(run, spans, e2e)
    overhead = None
    if os.path.exists(untraced):
        with open(untraced) as f:
            base = json.load(f)
        overhead = {k: e2e[k] - base[k] for k in e2e}
    bypassed = [k for k in PER_LAYER if k.startswith(BYPASSED[run.workload])]
    report = {
        "workload": run.workload, "seed": run.seed, "seconds": run.seconds,
        "end_to_end_traced": e2e,
        "tracing_overhead": overhead if overhead is not None else
        f"no untraced run of this workload with seed {run.seed} in this checkout yet",
        "per_layer": layer,
        "not_measured_here": {k: "layer not used by this workload" for k in bypassed},
        "span_self_time": layer_table([s for s in spans if s.get("trace") is not None]),
        "span_self_time_by_trace": trace_tables(spans),
        "triggers": run.triggers,
        "trigger_coverage": trigger_coverage(run.triggers, spans),
    }
    path = os.path.join(run.out_dir, f"trace-{run.workload}-seed{run.seed}.json")
    write_report(path, report)
    for name, row in report["span_self_time"].items():
        run.stderr(f"span {name}: n={row['count']:.0f} self={row['self_ms']:.1f} ms "
                   f"wall={row['wall_ms']:.1f} ms")
    if overhead is not None:
        run.stderr("tracing overhead: " + " ".join(f"{k}={v:+.4g}" for k, v in overhead.items()))
    run.stderr(f"trace report: {path}")
    record["metrics"] = {k: {"value": v, "unit": PER_LAYER[k]} for k, v in layer.items()}
    return record


if __name__ == "__main__":
    sys.exit(main())
