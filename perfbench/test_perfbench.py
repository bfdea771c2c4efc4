"""Self-tests of the benchmark: input determinism, the latency matcher,
the output checks and the pinned metric names.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

from perfbench import chunks as C
from perfbench.measure import check_segments, segment_latencies

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _ticks(seed: int, n: int = 80) -> list[str]:
    sched = C.ServeSchedule(seed, n_live=50)
    return [c.line() for k in range(n) for c in sched.tick(float(k))] + [
        c.line() for c in sched.close(float(n))]


def test_generator_is_deterministic_for_a_seed():
    assert _ticks(7) == _ticks(7)
    assert _ticks(7) != _ticks(8)


def test_every_session_ends_and_silence_is_about_15_percent():
    sched = C.ServeSchedule(1, n_live=50)
    chunks = [c for k in range(200) for c in sched.tick(float(k))] + sched.close(200.0)
    by_sid: dict[str, list] = {}
    for c in chunks:
        by_sid.setdefault(c.session_id, []).append(c)
    for seq in by_sid.values():
        assert [c.seq for c in seq] == list(range(len(seq)))
        assert [c.is_final for c in seq] == [False] * (len(seq) - 1) + [True]
        assert seq[0].amp != C.SILENT
    silent = sum(c.amp == C.SILENT for c in chunks) / len(chunks)
    assert 0.08 < silent < 0.22
    assert {c.priority for c in chunks} == set(C.PRIORITIES)


def test_generator_process_writes_the_schedule(tmp_path):
    qdir, summary = tmp_path / "q", tmp_path / "gen.json"
    env = dict(os.environ, PYTHONPATH=ROOT)
    subprocess.run([sys.executable, "-m", "perfbench.gen", "--dir", str(qdir), "--seed", "5",
                    "--ticks", "3", "--summary", str(summary), "--sessions", "4"],
                   check=True, env=env, cwd=ROOT, timeout=60)
    gsum = json.loads(summary.read_text())
    assert gsum["done"] and gsum["lines"] == 16          # 3 ticks + wind-down, 4 sessions
    assert [round(d - gsum["t0"], 6) for d, _, _ in gsum["ticks"]] == [0.0, 0.1, 0.2, 0.3]
    logged = C.read_logged_chunks(str(qdir))
    assert len(logged) == 16
    assert sum(c["is_final"] for c in logged) == len({c["session_id"] for c in logged})
    assert sorted(c["due"] for c in logged) == sorted(
        d for d, _, _ in gsum["ticks"] for _ in range(4))


def _seg(sid, idx, start, end, trigger, written):
    return {"session_id": sid, "segment_idx": idx, "start_offset_ms": start,
            "end_offset_ms": end, "n_samples": (end - start) * 16 // 10,
            "trigger": trigger, "written": written}


def test_latency_matcher_on_partial_vad_and_final_segments():
    # session s1: chunks at 0..600 ms, due 10.0 + offset; chunk 600 is final
    due_of = {("s1", off): (10.0 + off / 1000.0, off == 600) for off in range(0, 700, 100)}
    segs = [
        _seg("s1", 0, 0, 200, "size", 10.5),      # closed by chunk 100, due 10.1
        _seg("s1", 1, 50, 500, "vad", 11.0),      # closed by chunk 400, due 10.4
        _seg("s1", 2, 500, 700, "final", 12.0),   # closed by the final chunk 600
    ]
    all_ms, final_ms, unmatched = segment_latencies(segs, due_of)
    assert unmatched == 0
    assert [round(ms, 6) for _, ms in all_ms] == [400.0, 600.0, 1400.0]
    assert [round(ms, 6) for _, ms in final_ms] == [1400.0]
    assert [due for due, _ in all_ms] == [10.1, 10.4, 10.6]


def test_latency_matcher_rejects_inconsistent_closing_chunks():
    due_of = {("s1", 0): (1.0, False), ("s1", 100): (1.1, False)}
    segs = [
        _seg("s1", 0, 0, 200, "final", 2.0),      # final, but chunk 100 is not is_final
        _seg("s1", 1, 0, 900, "size", 2.0),       # no chunk at 800
        _seg("s2", 0, 0, 100, "size", 2.0),       # unknown session
    ]
    assert segment_latencies(segs, due_of) == ([], [], 3)


def test_check_segments_counts_missing_wrong_extra_and_duplicates():
    ref = [_seg("s1", i, 100 * i, 100 * i + 200, "size", 0.0) for i in range(4)]
    assert check_segments([dict(r) for r in ref], 4, ref) == (4, 0)
    got = [dict(r) for r in ref[:3]]                     # s1/3 missing
    got[1]["n_samples"] += 1                              # s1/1 wrong
    got.append(_seg("s9", 0, 0, 100, "final", 0.0))      # not in the reference
    assert check_segments(got, 4, ref) == (4, 3)
    assert check_segments([dict(r) for r in ref], 6, ref) == (4, 2)  # two re-writes


def test_trigger_coverage_sums_self_time_and_unions_wall_time():
    from perfbench.run import trigger_coverage
    from perfbench.trace import assign_triggers

    trig = [{"batch_id": 7, "start": 10.0, "end": 11.0, "execution_ms": 1000.0,
             "state_commit_ms": 5.0}]
    spans = [
        {"name": "queue_source.read", "start": 10.1, "end": 10.4, "self_ms": 200.0},
        {"name": "sessionizer.fn", "start": 10.2, "end": 10.5, "self_ms": 250.0},
        {"name": "sessionizer.fn", "start": 10.3, "end": 10.5, "self_ms": 150.0},
        {"name": "result_sink.commit", "start": 10.9, "end": 11.2, "self_ms": 300.0,
         "trace": 7},                                     # clipped at the trigger's end
        {"name": "result_sink.commit", "start": 9.0, "end": 9.1, "self_ms": 100.0,
         "trace": 6},                                     # an unmeasured trigger
        {"name": "sessionizer.fn", "start": 12.0, "end": 12.1, "self_ms": 100.0},
    ]
    assign_triggers(spans, trig)
    assert [s["trace"] for s in spans] == [7, 7, 7, 7, None, None]
    (cov,) = trigger_coverage(trig, spans)
    assert cov["span_self_ms"] == 900.0 and round(cov["self_coverage"], 6) == 0.9
    assert round(cov["span_wall_ms"], 6) == 500.0         # 10.1-10.5 and 10.9-11.0


def test_metric_names_are_pinned():
    from perfbench import run

    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.PER_LAYER
    assert list(run.END_TO_END) == ["setup_s", "latency_p50_ms", "latency_p99_ms",
                                    "final_latency_p50_ms", "memory_mb"]
    assert len(run.PER_LAYER) == 44
    assert [w["name"] for w in bench["workloads"]] == list(run.WORKLOADS)
    for prefixes in run.BYPASSED.values():
        assert all(any(k.startswith(p) for k in run.PER_LAYER) for p in prefixes)


@pytest.mark.parametrize("trace", [0, 1])
def test_refuses_to_run_without_the_program(tmp_path, trace):
    bare = tmp_path / "bare"
    (bare / "perfbench").mkdir(parents=True)
    for fn in os.listdir(os.path.join(ROOT, "perfbench")):
        if fn.endswith(".py"):
            (bare / "perfbench" / fn).write_bytes(
                open(os.path.join(ROOT, "perfbench", fn), "rb").read())
    p = subprocess.run([sys.executable, "perfbench/run.py", "--workload", "headline",
                        "--seed", "1", "--seconds", "1", "--trace", str(trace)],
                       cwd=bare, capture_output=True, text=True, timeout=60,
                       env={k: v for k, v in os.environ.items() if k != "PYTHONPATH"})
    assert p.returncode != 0 and p.stdout.strip() == ""
