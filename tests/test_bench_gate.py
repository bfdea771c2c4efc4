"""Unit coverage for bench.py's regression gate.

The gate is the only thing standing between a silent round-over-round
performance regression and a committed BENCH_r{N}.json, so its four
branches (per-query ratio, throughput-vs-median, scale-soak absolute
ratio, flagship skew) get direct synthetic-history tests here. BOTH
per-query timings and the throughput sections baseline against the
median of the last <=3 rounds: the recorded flagship history
(1173 -> 1055 -> 1993 chunks/s) and round 7's uniform 7-47% headline
drift, all on unchanged code, showed single-round noise large enough
that gating against one lucky round flags healthy runs; the tests
below pin exactly those scenarios.
"""

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from bench import SOAK_MAX_RATIO, _GATE_RATIO, _regression_gate  # noqa: E402


def _write_round(tmp_path, n, parsed):
    p = tmp_path / f"BENCH_r{n:02d}.json"
    p.write_text(json.dumps({"parsed": parsed}))
    return p


def _base_round(**over):
    parsed = {
        "queries": {"q1": 1.0, "q2": 2.0},
        "deep": {"queries": {"q1": 4.0}},
        "flagship": {"chunks_per_sec": 1000.0},
        "streaming": {"rows_per_sec": 50000.0},
    }
    parsed.update(over)
    return parsed


def test_query_gate_skips_cross_methodology_history(tmp_path):
    """Round-8 timing-action fix: `.count()`-era rounds under-measure
    any query whose count plan prunes work, so a noop_write round must
    NOT flag against them — per-query history is methodology-matched,
    while the throughput sections (wall-clock pipelines, unaffected by
    the query timing action) keep the full history."""
    _write_round(tmp_path, 1, _base_round())  # legacy: no timing_action
    now = {"queries": {"q1": 9.0}, "timing_action": "noop_write",
           "flagship": {"chunks_per_sec": 100.0}}  # real 10x collapse
    out = _regression_gate(now, here=str(tmp_path))
    assert "q1" not in out["flagged"]          # cross-methodology: skipped
    assert "flagship:chunks_per_sec" in out["flagged"]  # throughput: kept
    assert out["query_history_rounds"] == []   # the skip is visible
    # same-methodology history gates normally again
    _write_round(tmp_path, 2, _base_round(timing_action="noop_write"))
    out = _regression_gate(now, here=str(tmp_path))
    assert "q1" in out["flagged"]
    assert out["query_history_rounds"] == [2]


def test_no_history_returns_empty_gate(tmp_path):
    out = _regression_gate({"queries": {"q1": 9.9}}, here=str(tmp_path))
    assert out == {"baseline_round": None, "threshold": _GATE_RATIO,
                   "flagged": {}}


def test_query_regression_flagged_against_last_round(tmp_path):
    _write_round(tmp_path, 1, _base_round())
    _write_round(tmp_path, 2, _base_round(queries={"q1": 1.0, "q2": 0.5}))
    now = {"queries": {"q1": 1.6, "q2": 0.6},  # q1 1.6x>1.5x; q2 vs r2's 0.5
           "deep": {"queries": {"q1": 4.1}}}
    out = _regression_gate(now, here=str(tmp_path))
    assert out["baseline_round"] == 2
    assert set(out["flagged"]) == {"q1"}
    assert out["flagged"]["q1"]["prev"] == 1.0  # r2, not r1


def test_query_gate_uses_median_of_last_three(tmp_path):
    """Round-7 verdict #4: the recorded headline shape — a uniform
    host-state drift round must not ratchet the per-query bar. q1's
    history 1.0 -> 1.0 -> 0.6 (one lucky round): 1.2s is 2x the lucky
    round but only 1.2x the median, so it must NOT flag; a real 1.8s
    (1.8x the median) must."""
    for n, v in ((4, 1.0), (5, 1.0), (6, 0.6)):
        _write_round(tmp_path, n, _base_round(queries={"q1": v}))
    ok = {"queries": {"q1": 1.2}}
    assert _regression_gate(ok, here=str(tmp_path))["flagged"] == {}
    out = _regression_gate({"queries": {"q1": 1.8}}, here=str(tmp_path))
    fl = out["flagged"]["q1"]
    assert fl["prev"] == 1.0 and fl["window"] == [1.0, 1.0, 0.6]


def test_duplicate_round_numbers_do_not_crash_sort(tmp_path):
    """BENCH_r7.json + BENCH_r07.json parse to the same round number;
    the sort must key on the number only, never compare the dicts."""
    (tmp_path / "BENCH_r7.json").write_text(
        json.dumps({"parsed": _base_round(queries={"q1": 9.0})}))
    _write_round(tmp_path, 7, _base_round())
    out = _regression_gate({"queries": {"q1": 1.05}}, here=str(tmp_path))
    assert out["baseline_round"] == 7


def test_zero_throughput_collapse_is_flagged(tmp_path):
    """A flagship/streaming metric of 0 with real history is a total
    collapse — the gate must flag it, not skip it as 'absent'."""
    _write_round(tmp_path, 1, _base_round())
    out = _regression_gate(
        {"flagship": {"chunks_per_sec": 0.0}}, here=str(tmp_path))
    assert "flagship:chunks_per_sec" in out["flagged"]
    # a genuinely skipped section (no metric at all) still passes
    out2 = _regression_gate({"queries": {}}, here=str(tmp_path))
    assert "flagship:chunks_per_sec" not in out2["flagged"]


def test_query_regression_absolute_floor_ignores_warmup_jitter(tmp_path):
    _write_round(tmp_path, 1, _base_round(queries={"q1": 0.1}))
    out = _regression_gate({"queries": {"q1": 0.4}}, here=str(tmp_path))
    assert out["flagged"] == {}  # 4x slower but under the 0.5s floor


def test_deep_section_flagged_with_prefix(tmp_path):
    _write_round(tmp_path, 1, _base_round())
    now = {"queries": {}, "deep": {"queries": {"q1": 7.0}}}
    out = _regression_gate(now, here=str(tmp_path))
    assert set(out["flagged"]) == {"deep:q1"}


def test_throughput_gates_against_median_of_last_three(tmp_path):
    # the recorded flagship shape: one lucky round must not ratchet
    for n, v in ((4, 1173.0), (5, 1055.0), (6, 1993.0)):
        _write_round(tmp_path, n, _base_round(
            flagship={"chunks_per_sec": v}))
    # healthy steady-state above median(1173)/1.5: NOT flagged, even
    # though it is far below the single prior round's 1993
    ok = {"flagship": {"chunks_per_sec": 1300.0}}
    assert _regression_gate(ok, here=str(tmp_path))["flagged"] == {}
    # a real collapse below median/1.5 IS flagged, with the window
    bad = {"flagship": {"chunks_per_sec": 700.0}}
    out = _regression_gate(bad, here=str(tmp_path))
    fl = out["flagged"]["flagship:chunks_per_sec"]
    assert fl["prev"] == 1173.0
    assert fl["window"] == [1173.0, 1055.0, 1993.0]


def test_throughput_median_uses_only_last_three_rounds(tmp_path):
    for n, v in ((1, 99999.0), (4, 900.0), (5, 1000.0), (6, 1100.0)):
        _write_round(tmp_path, n, _base_round(
            streaming={"rows_per_sec": v}))
    # median excludes r1's outlier: baseline is 1000, so 600 < 1000/1.5
    out = _regression_gate({"streaming": {"rows_per_sec": 600.0}},
                           here=str(tmp_path))
    assert out["flagged"]["streaming:rows_per_sec"]["prev"] == 1000.0


def test_soak_gate_is_absolute_not_round_over_round(tmp_path):
    _write_round(tmp_path, 1, _base_round())
    now = {"soak": {"queries": {
        "q45": {"lo_sec": 1.0, "hi_sec": 5.0, "ratio": 5.0},
        "q103": {"lo_sec": 1.0, "hi_sec": SOAK_MAX_RATIO * 1.0 + 1,
                 "ratio": SOAK_MAX_RATIO + 1.0},
    }}}
    out = _regression_gate(now, here=str(tmp_path))
    assert set(out["flagged"]) == {"soak:q103"}


def test_soak_gate_uses_median_window(tmp_path):
    """Round-9 verdict #6: soak legs are single-pass minute-scale runs
    with recorded 1.0-7.2x host-state spread on unchanged code, so the
    absolute 15x threshold is applied to the median of (current ratio +
    last <=3 methodology-matched rounds' ratios), not to one reading."""
    for n in (4, 5, 6):
        _write_round(tmp_path, n, _base_round(
            timing_action="noop_write",
            soak={"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 4.0,
                                      "ratio": 4.0}}}))
    # one transient 20x reading: median(4,4,4,20) = 4 -> NOT flagged
    noisy = {"timing_action": "noop_write",
             "soak": {"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 20.0,
                                          "ratio": 20.0}}}}
    assert _regression_gate(noisy, here=str(tmp_path))["flagged"] == {}
    # a persistent blowup crosses the bar once the window is mostly bad
    for n in (7, 8):
        _write_round(tmp_path, n, _base_round(
            timing_action="noop_write",
            soak={"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 20.0,
                                      "ratio": 20.0}}}))
    out = _regression_gate(noisy, here=str(tmp_path))
    fl = out["flagged"]["soak:q45"]
    assert fl["window"] == [4.0, 20.0, 20.0, 20.0] and fl["median"] == 20.0


def test_soak_gate_resolves_compact_short_keys(tmp_path):
    """Round 12: the compact tail keys soak legs by `qNN` prefix to fit
    the byte budget; the gate must find history recorded under either
    the full name or the short key."""
    for n in (4, 5, 6):
        _write_round(tmp_path, n, _base_round(
            timing_action="noop_write",
            soak={"queries": {"q86": 4.0}}))   # short-key float history
    now = {"timing_action": "noop_write",
           "soak": {"queries": {"q86_dup_clusters": {
               "lo_sec": 1.0, "hi_sec": 40.0, "ratio": 40.0}}}}
    # median(4,4,4,40)=4 < bar, but 40 > 2x hard bar -> still flags;
    # the window proves the short-key history was resolved
    out = _regression_gate(now, here=str(tmp_path))
    fl = out["flagged"]["soak:q86_dup_clusters"]
    assert fl["window"] == [4.0, 4.0, 4.0, 40.0]


def test_soak_gate_history_is_methodology_matched(tmp_path):
    """count()-era soak ratios under-measured q103/q149-class queries
    (the eliminated-join artifact), so they must not vouch for — or
    indict — a noop_write run: cross-methodology soak history is
    skipped, and with no matched history the current ratio IS the
    median (a first-round blowup still flags)."""
    _write_round(tmp_path, 1, _base_round(  # legacy: no timing_action
        soak={"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 4.0,
                                  "ratio": 4.0}}}))
    bad = {"timing_action": "noop_write",
           "soak": {"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 20.0,
                                        "ratio": 20.0}}}}
    out = _regression_gate(bad, here=str(tmp_path))
    assert out["flagged"]["soak:q45"]["window"] == [20.0]


def test_flagship_skew_must_stay_within_2x_of_even(tmp_path):
    _write_round(tmp_path, 1, _base_round())
    now = {"flagship": {"chunks_per_sec": 1000.0,
                        "skew": {"chunks_per_sec": 400.0}}}
    out = _regression_gate(now, here=str(tmp_path))
    assert "flagship_skew:chunks_per_sec" in out["flagged"]
    ok = {"flagship": {"chunks_per_sec": 1000.0,
                       "skew": {"chunks_per_sec": 600.0}}}
    assert "flagship_skew:chunks_per_sec" not in _regression_gate(
        ok, here=str(tmp_path))["flagged"]


def test_flagship_rocksdb_leg_gated_like_skew(tmp_path):
    """Round-9 verdict #5: the RocksDB-provider leg gates within 2x of
    the even leg, and a segment count short of expected flags as a
    correctness break whatever the throughput."""
    _write_round(tmp_path, 1, _base_round())
    bad = {"flagship": {"chunks_per_sec": 1000.0,
                        "rocksdb": {"chunks_per_sec": 400.0}}}
    out = _regression_gate(bad, here=str(tmp_path))
    assert "flagship_rocksdb:chunks_per_sec" in out["flagged"]
    short = {"flagship": {"chunks_per_sec": 1000.0,
                          "rocksdb": {"chunks_per_sec": 900.0,
                                      "segments": 99,
                                      "expected_segments": 100}}}
    out2 = _regression_gate(short, here=str(tmp_path))
    assert "flagship_rocksdb:segments" in out2["flagged"]
    ok = {"flagship": {"chunks_per_sec": 1000.0, "segments": 100,
                       "expected_segments": 100,
                       "rocksdb": {"chunks_per_sec": 900.0,
                                   "segments": 100,
                                   "expected_segments": 100}}}
    assert _regression_gate(ok, here=str(tmp_path))["flagged"] == {}


def test_flagship_scale_leg_gated_like_skew(tmp_path):
    _write_round(tmp_path, 1, _base_round())
    bad = {"flagship": {"chunks_per_sec": 1000.0,
                        "scale": {"chunks_per_sec": 400.0}}}
    out = _regression_gate(bad, here=str(tmp_path))
    assert "flagship_scale:chunks_per_sec" in out["flagged"]
    ok = {"flagship": {"chunks_per_sec": 1000.0,
                       "scale": {"chunks_per_sec": 600.0}}}
    assert "flagship_scale:chunks_per_sec" not in _regression_gate(
        ok, here=str(tmp_path))["flagged"]


def test_soak_hard_flag_on_catastrophic_current_ratio(tmp_path):
    """Round-9 advice: the median window delays detection of a genuine
    super-linear regression landing after a green history by 1-2
    rounds. A current-round ratio past 2x SOAK_MAX_RATIO flags
    immediately (marked hard), median notwithstanding; readings between
    the gate and 2x the gate keep the median behavior."""
    for n in (4, 5, 6):
        _write_round(tmp_path, n, _base_round(
            timing_action="noop_write",
            soak={"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 4.0,
                                      "ratio": 4.0}}}))
    # catastrophic first-round blowup: median(4,4,4,40)=4 but 40 > 30
    bad = {"timing_action": "noop_write",
           "soak": {"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 40.0,
                                        "ratio": 2 * SOAK_MAX_RATIO
                                        + 10.0}}}}
    out = _regression_gate(bad, here=str(tmp_path))
    assert out["flagged"]["soak:q45"].get("hard") is True
    # a 20x reading (over the gate, under the hard bar) still rides the
    # median — unchanged round-9 behavior
    noisy = {"timing_action": "noop_write",
             "soak": {"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 20.0,
                                          "ratio": 20.0}}}}
    assert _regression_gate(noisy, here=str(tmp_path))["flagged"] == {}


def test_soak_gate_reads_flattened_compact_history(tmp_path):
    """Round 10+: the compact tail stores soak ratios as bare floats
    ({name: ratio}); the gate's history reader must accept both shapes."""
    for n, shape in ((4, {"q45": {"ratio": 4.0}}), (5, {"q45": 4.0})):
        _write_round(tmp_path, n, _base_round(
            timing_action="noop_write", soak={"queries": shape}))
    noisy = {"timing_action": "noop_write",
             "soak": {"queries": {"q45": {"lo_sec": 1.0, "hi_sec": 20.0,
                                          "ratio": 20.0}}}}
    out = _regression_gate(noisy, here=str(tmp_path))
    assert out["flagged"] == {}  # median(4, 4, 20) = 4 — both rounds read


def test_flagship_scale_rocksdb_gates_against_scale_leg(tmp_path):
    """Round-10 verdict #3: the RocksDB 1000-stream leg compares
    against the IN-MEMORY scale leg (same workload, provider swapped),
    not the 100-stream even leg, and carries the segment invariant."""
    _write_round(tmp_path, 1, _base_round())
    bad = {"flagship": {"chunks_per_sec": 1000.0,
                        "scale": {"chunks_per_sec": 5000.0},
                        "scale_rocksdb": {"chunks_per_sec": 2000.0}}}
    out = _regression_gate(bad, here=str(tmp_path))
    assert "flagship_scale_rocksdb:chunks_per_sec" in out["flagged"]
    # 2000 chunks/s would PASS a (wrong) even-leg comparison — the
    # scale-leg baseline is what catches the provider-cost regression
    ok = {"flagship": {"chunks_per_sec": 1000.0,
                       "scale": {"chunks_per_sec": 5000.0},
                       "scale_rocksdb": {"chunks_per_sec": 3000.0}}}
    assert _regression_gate(ok, here=str(tmp_path))["flagged"] == {}
    short = {"flagship": {"chunks_per_sec": 1000.0,
                          "scale": {"chunks_per_sec": 5000.0},
                          "scale_rocksdb": {"chunks_per_sec": 5000.0,
                                            "segments": 99,
                                            "expected_segments": 100}}}
    out2 = _regression_gate(short, here=str(tmp_path))
    assert "flagship_scale_rocksdb:segments" in out2["flagged"]


def test_curation_replay_mismatch_and_throughput_gated(tmp_path):
    _write_round(tmp_path, 1, _base_round(
        curation={"docs_per_sec": 1000.0, "verified": True}))
    bad = {"curation": {"docs_per_sec": 900.0, "verified": False}}
    out = _regression_gate(bad, here=str(tmp_path))
    assert "curation:verified" in out["flagged"]
    slow = {"curation": {"docs_per_sec": 500.0, "verified": True}}
    out2 = _regression_gate(slow, here=str(tmp_path))
    assert "curation:docs_per_sec" in out2["flagged"]
    assert "curation:verified" not in out2["flagged"]


def test_ann_recall_floor_flagged(tmp_path):
    _write_round(tmp_path, 1, _base_round())
    now = {"ann_recall": {"sf": {
        "q49": {"recall_at_5": 0.2, "floor": 0.4},
        "q73": {"recall_at_5": 0.9, "floor": 0.6},
    }}}
    out = _regression_gate(now, here=str(tmp_path))
    assert set(k for k in out["flagged"] if k.startswith("ann_recall")) \
        == {"ann_recall:sf:q49"}


def test_unparseable_history_file_is_skipped(tmp_path):
    (tmp_path / "BENCH_r01.json").write_text("{not json")
    _write_round(tmp_path, 2, _base_round())
    out = _regression_gate({"queries": {"q1": 1.05}}, here=str(tmp_path))
    assert out["baseline_round"] == 2
    assert out["flagged"] == {}


def test_flagship_leg_zero_throughput_flags(tmp_path):
    """A skew/scale leg that ran but delivered 0 chunks/s is a total
    collapse, not a skippable absence — the falsy-0 class must flag
    (mirrors the section-metric zero test above). A genuinely absent
    leg still skips."""
    _write_round(tmp_path, 1, _base_round())
    dead = {"flagship": {"chunks_per_sec": 1000.0,
                         "scale": {"chunks_per_sec": 0.0}}}
    out = _regression_gate(dead, here=str(tmp_path))
    assert "flagship_scale:chunks_per_sec" in out["flagged"]
    absent = {"flagship": {"chunks_per_sec": 1000.0}}
    out2 = _regression_gate(absent, here=str(tmp_path))
    assert not any(k.startswith("flagship_") for k in out2["flagged"])


def test_gate_history_is_sf_matched(tmp_path):
    """History at another scale factor measures a different workload
    (an sf0.001 streaming replay reads ~0.02x an sf0.1 one), so an
    sf0.001 run against sf0.1 history gets no history flag; the same
    run at sf0.1 does. The absolute gates still apply at any sf."""
    for n in (1, 2, 3):
        _write_round(tmp_path, n, _base_round(
            sf=0.1, timing_action="noop_write"))
    slow = {"queries": {"q1": 9.0}, "timing_action": "noop_write",
            "flagship": {"chunks_per_sec": 10.0},
            "streaming": {"rows_per_sec": 1000.0}}
    out = _regression_gate(dict(slow, sf=0.001), here=str(tmp_path))
    assert out["flagged"] == {}
    assert out["baseline_round"] is None
    assert out["query_history_rounds"] == []
    out = _regression_gate(dict(slow, sf=0.1), here=str(tmp_path))
    assert set(out["flagged"]) == {
        "q1", "flagship:chunks_per_sec", "streaming:rows_per_sec"}
    assert out["baseline_round"] == 3
    short = {"sf": 0.001, "flagship": {"chunks_per_sec": 10.0,
                                       "segments": 5,
                                       "expected_segments": 6}}
    out = _regression_gate(short, here=str(tmp_path))
    assert set(out["flagged"]) == {"flagship:segments"}
