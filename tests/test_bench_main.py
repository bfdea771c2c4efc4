"""Unit coverage for bench.py's timing runner and run setup, a smoke
run of the whole `python bench.py` entry point, and one run of the
flagship leg that the smoke run skips.

The runner tests use fake thunks and a fake clock, so they need no
Spark: every leg's pass policy (interleaving, min wins, every pass
recorded, single run above the 30 s cutoff) is pinned here once.
"""

import json
import os
import subprocess
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from bench import (  # noqa: E402
    _MIN_OF_2_CUTOFF_S,
    _flagship_once,
    _sf_of,
    _time_passes,
)
from tests.conftest import SF_DIR  # noqa: E402


class _Clock:
    def __init__(self):
        self.now = 0.0

    def __call__(self):
        return self.now


def _job(clock, log, key, durations):
    """A thunk that takes the next of `durations` seconds of fake time
    and returns "<key>@<call number>". Durations are binary fractions,
    so clock differences are exact."""
    it = iter(durations)

    def run():
        log.append(key)
        clock.now += next(it)
        return f"{key}@{len(log)}"
    return run


def test_passes_are_interleaved_and_min_wins():
    clock, log = _Clock(), []
    timed = _time_passes(
        [("a", _job(clock, log, "a", (3.0, 1.0))),
         ("b", _job(clock, log, "b", (2.0, 2.5)))],
        clock=clock)
    assert log == ["a", "b", "a", "b"]
    assert timed["a"].runs == [3.0, 1.0] and timed["a"].best == 1.0
    assert timed["b"].runs == [2.0, 2.5] and timed["b"].best == 2.0
    assert timed["a"].outs == ["a@1", "a@3"]


def test_job_above_cutoff_runs_once():
    clock, log = _Clock(), []
    over = _MIN_OF_2_CUTOFF_S + 1.0
    timed = _time_passes(
        [("slow", _job(clock, log, "slow", (over,))),
         ("edge", _job(clock, log, "edge", (_MIN_OF_2_CUTOFF_S, 1.0, 2.0))),
         ("fast", _job(clock, log, "fast", (1.0, 0.5, 0.75)))],
        passes=3, clock=clock)
    assert log == ["slow", "edge", "fast", "edge", "fast", "edge", "fast"]
    assert timed["slow"].runs == [over]
    assert timed["edge"].best == 1.0
    assert timed["fast"].runs == [1.0, 0.5, 0.75]


def test_no_cutoff_runs_every_pass():
    clock, log = _Clock(), []
    timed = _time_passes(
        [("a", _job(clock, log, "a", (40.0, 35.0)))],
        cutoff=None, clock=clock)
    assert timed["a"].runs == [40.0, 35.0] and timed["a"].best == 35.0


def test_settle_runs_outside_the_timed_region():
    clock, log = _Clock(), []

    def settle(out):
        clock.now += 100.0
        return out.upper()

    timed = _time_passes(
        [("a", _job(clock, log, "a", (2.0, 1.0)))],
        cutoff=None, settle=settle, clock=clock)
    assert timed["a"].runs == [2.0, 1.0]
    assert timed["a"].outs == ["A@1", "A@2"]


@pytest.mark.parametrize("path, sf", [
    ("/data/sf0.1", 0.1),
    ("/data/sf0.001/", 0.001),
    ("/data/sf10", 10.0),
    ("/data/tpch_sf0.01", 0.01),
    ("/data/sf", None),
    ("/data/sf0.1_copy", None),
    ("/data/fixtures", None),
])
def test_sf_is_parsed_from_a_trailing_sf_number(path, sf):
    assert _sf_of(path) == sf


def test_bench_main_smoke(tmp_path):
    """`python bench.py` end to end with every optional section
    skipped: exit 0, a final line that parses and fits the 2000-char
    tail, all ten headline queries plus the streaming section, and no
    regression flag (the committed history is at another sf)."""
    from streamprocess_spark.plans.registry import QUERIES, _ensure_loaded

    _ensure_loaded()
    bench_names = {n for n, s in QUERIES.items() if s.bench}
    env = dict(os.environ, SPARK_GRAFT_SF_DIR=SF_DIR)
    for section in ("DEEP", "SOAK", "FLAGSHIP", "CURATION", "ANN_RECALL"):
        env[f"SPARK_GRAFT_SKIP_{section}"] = "1"
    proc = subprocess.run(
        [sys.executable, os.path.join(ROOT, "bench.py")],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=900,
    )
    assert proc.returncode == 0, proc.stderr[-4000:]
    last = proc.stdout.strip().splitlines()[-1]
    assert len(last) < 2000, len(last)
    compact = json.loads(last)
    assert len(bench_names) == 10
    assert set(compact["queries"]) == bench_names
    assert "streaming" in compact
    assert compact["flagged"] == [], compact


def test_flagship_leg_delivers_every_segment(spark):
    """One bench flagship leg on a small workload: both passes deliver
    every segment the batch sessionizer finds and record their
    micro-batch counts."""
    from streamprocess_spark.io.tables import load_tables
    from streamprocess_spark.streaming.sessionizer import (
        DEFAULT_CONFIG,
        chunks_from_events,
    )

    ev = load_tables(spark, SF_DIR)["events"]
    out = _flagship_once(
        spark, chunks_from_events(ev, DEFAULT_CONFIG, max_users=6), "t")
    assert out["segments"] == out["expected_segments"] > 0, out
    assert len(out["runs"]) == 2, out
    assert all(nb >= 1 for nb in out["nb"]), out
