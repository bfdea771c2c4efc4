"""Stateful sessionizer correctness (SURVEY M4): deterministic chunk
replay, streaming == batch convergence, reference-derived invariants
(segment conservation, overlap carry, VAD endpoints)."""

from __future__ import annotations

import json

import numpy as np
import pandas as pd
import pytest

from streamprocess_spark.io.tables import load_tables
from streamprocess_spark.streaming.core import run_to_completion
from streamprocess_spark.streaming.sessionizer import (
    CHUNK_SCHEMA,
    DEFAULT_CONFIG,
    SessionizerConfig,
    _SessionCore,
    chunks_from_events,
    sessionize_batch,
    sessionize_stream,
)
from tests.conftest import SF_DIR

CFG = DEFAULT_CONFIG


def _chunk(amp: float, cfg: SessionizerConfig = CFG) -> np.ndarray:
    n = cfg.chunk_samples
    return (amp * np.sin(np.arange(n) * 2 * np.pi * 5 / n)).astype(np.float32)


class TestCore:
    """Unit tests on the pure session core (reference test style:
    tests/unit/test_preprocessing.py numeric property assertions)."""

    def test_size_trigger_and_overlap(self):
        core = _SessionCore.fresh(CFG, "s")
        # 4 speech chunks = 400ms ≥ 320ms → one partial after chunk 4
        for i in range(4):
            core.feed(i * 100, _chunk(0.5), is_final=False)
        assert len(core.out) == 1
        seg = core.out[0]
        assert seg[5] is True and seg[6] == "size"   # partial, size trigger
        assert seg[2] == 0 and seg[4] == 4 * CFG.chunk_samples
        # T3: overlap retained
        assert len(core.buf) == CFG.overlap_samples
        assert core.buf_start_ms == 400 - CFG.overlap_ms

    def test_vad_endpoint(self):
        core = _SessionCore.fresh(CFG, "s")
        core.feed(0, _chunk(0.5), is_final=False)       # speech
        core.feed(100, _chunk(0.0), is_final=False)     # silence 100
        core.feed(200, _chunk(0.0), is_final=False)     # silence 200
        assert len(core.out) == 0
        core.feed(300, _chunk(0.0), is_final=False)     # silence 300 → endpoint
        assert len(core.out) == 1
        assert core.out[0][6] == "vad"
        assert core.in_speech is False

    def test_silence_only_never_triggers_vad(self):
        core = _SessionCore.fresh(CFG, "s")
        for i in range(3):                               # 300ms silence, no speech
            core.feed(i * 100, _chunk(0.0), is_final=False)
        # in_speech never set → no vad endpoint; 300ms < 320ms → no size
        assert len(core.out) == 0
        core.feed(300, _chunk(0.0), is_final=False)      # 400ms → size trigger
        assert len(core.out) == 1 and core.out[0][6] == "size"

    def test_final_flush_conservation(self):
        core = _SessionCore.fresh(CFG, "s")
        for i in range(6):
            core.feed(i * 100, _chunk(0.4), is_final=(i == 5))
        finals = [s for s in core.out if not s[5]]
        assert len(finals) == 1 and core.out[-1][6] == "final"
        # segment conservation (reference: split length conservation,
        # test_preprocessing.py:105-125): emitted non-overlapped spans
        # cover exactly the input duration
        total_ms = 6 * CFG.chunk_ms
        assert core.out[-1][3] == total_ms
        assert len(core.buf) == 0


@pytest.mark.slow
class TestConvergence:
    def test_stream_equals_batch(self, spark, tmp_path):
        ev = load_tables(spark, SF_DIR)["events"]
        chunks = chunks_from_events(ev, CFG, max_users=30)

        batch = sessionize_batch(chunks, CFG).toPandas()

        tmp = str(tmp_path / "chunks")
        chunks.orderBy("ts").coalesce(5).write.mode("overwrite").parquet(tmp)
        stream = (
            spark.readStream.schema(CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        # NoTimeout: availableNow replay must terminate (see
        # sessionize_stream docstring) and wall-clock reaping would
        # break stream==batch determinism
        streamed = run_to_completion(
            sessionize_stream(stream, CFG, timeout="NoTimeout"), "append"
        ).toPandas()

        cols = list(batch.columns)
        b = batch.sort_values(cols, ignore_index=True)
        s = streamed.sort_values(cols, ignore_index=True)
        pd.testing.assert_frame_equal(b, s, check_dtype=False)
        assert len(b) > 0

    def test_segments_deterministic_across_runs(self, spark):
        ev = load_tables(spark, SF_DIR)["events"]
        chunks = chunks_from_events(ev, CFG, max_users=10)
        a = sessionize_batch(chunks, CFG).toPandas()
        b = sessionize_batch(chunks, CFG).toPandas()
        cols = list(a.columns)
        pd.testing.assert_frame_equal(
            a.sort_values(cols, ignore_index=True),
            b.sort_values(cols, ignore_index=True),
        )


def test_context_ring_buffer_caps_at_ten():
    """T9: transcript ring (stt_worker.py:510-520) — n_context grows
    per emitted segment and the ring never exceeds CONTEXT_KEEP."""
    from streamprocess_spark.streaming.sessionizer import CONTEXT_KEEP

    core = _SessionCore.fresh(CFG, "s")
    # 60 speech chunks → a partial every 4 chunks (size trigger)
    for i in range(60):
        core.feed(i * 100, _chunk(0.5), is_final=False)
    assert len(core.out) >= 12
    depths = [seg[9] for seg in core.out]
    assert depths[:3] == [0, 1, 2]          # ring fills segment by segment
    assert max(depths) == CONTEXT_KEEP      # then caps
    assert len(core.context) == CONTEXT_KEEP


class _FakeState:
    """Minimal GroupState stand-in to exercise the timeout branch."""

    def __init__(self, tup, timed_out):
        self._tup = tup
        self.hasTimedOut = timed_out
        self.exists = tup is not None
        self.removed = False
        self.updated = None
        self.timeout_set_ms = None

    @property
    def get(self):
        return self._tup

    def remove(self):
        self.removed = True

    def update(self, tup):
        self.updated = tup

    def setTimeoutDuration(self, ms):
        self.timeout_set_ms = ms


def test_stream_fn_timeout_flushes_and_drops_state():
    """T8: idle reap (stt_worker.py:419-430) — a timed-out key flushes
    its remaining buffer as a final segment and removes state."""
    from streamprocess_spark.streaming.sessionizer import sessionize_stream_fn

    buf = np.concatenate([_chunk(0.5)] * 2)  # 200ms buffered audio
    state = _FakeState(
        (buf.astype("<f4").tobytes(), 1000, 0, True, 3, json.dumps(["a", "b"])),
        timed_out=True,
    )
    fn = sessionize_stream_fn(CFG)
    frames = list(fn(("sess-1",), iter(()), state))
    assert state.removed and state.updated is None
    out = pd.concat(frames)
    assert len(out) == 1
    seg = out.iloc[0]
    assert seg.trigger == "final" and not seg.is_partial
    assert seg.segment_idx == 3            # resumes the stored index
    assert seg.start_offset_ms == 1000
    assert seg.n_context == 2              # stored ring depth visible


def test_stream_fn_updates_state_between_batches():
    from streamprocess_spark.streaming.sessionizer import sessionize_stream_fn

    pdf = pd.DataFrame({
        "session_id": ["s"] * 2,
        "seq": [0, 1],
        "ts": pd.to_datetime(["2024-01-01", "2024-01-01"]),
        "offset_ms": [0, 100],
        "duration_ms": [100, 100],
        "samples": [_chunk(0.5).tolist(), _chunk(0.5).tolist()],
        "is_final": [False, False],
    })
    state = _FakeState(None, timed_out=False)
    state.exists = False
    fn = sessionize_stream_fn(CFG)
    list(fn(("s",), iter([pdf]), state))
    # 200ms < 320ms trigger: nothing emitted, buffer persisted
    assert not state.removed and state.updated is not None
    buf, start_ms, silence, in_speech, seg_idx, context = state.updated
    buf, context = np.frombuffer(buf, dtype="<f4"), json.loads(context)
    assert len(buf) == 2 * CFG.chunk_samples
    # the float32 audio round-trips through the state bytes bit-exactly
    assert buf.tobytes() == np.concatenate([_chunk(0.5)] * 2).tobytes()
    assert in_speech is True and seg_idx == 0 and context == []
    # unarmed factory never touches the timeout API
    assert state.timeout_set_ms is None
    # armed factory re-registers the idle reap on every non-final update
    armed = sessionize_stream_fn(CFG, idle_ms=750)
    state2 = _FakeState(None, timed_out=False)
    state2.exists = False
    list(armed(("s",), iter([pdf.copy()]), state2))
    assert state2.timeout_set_ms == 750


def _write_chunks(spark, in_dir: str, session_id: str, offsets: list[int],
                  amp: float = 0.5, final: bool = False) -> None:
    """Append one micro-batch worth of chunk rows as a parquet file."""
    rows = [
        (
            session_id, i, pd.Timestamp("2024-01-01").to_pydatetime(),
            off, CFG.chunk_ms, _chunk(amp).tolist(),
            final and off == offsets[-1],
        )
        for i, off in enumerate(offsets)
    ]
    spark.createDataFrame(rows, CHUNK_SCHEMA).coalesce(1).write.mode(
        "append"
    ).parquet(in_dir)


@pytest.mark.slow
def test_idle_timeout_reaps_session_in_real_stream(spark, tmp_path):
    """T8 end-to-end, no _FakeState: a session that buffers audio and
    then goes quiet — never sending an is_final chunk — is flushed as
    a FINAL segment by a later micro-batch via the armed
    ProcessingTimeTimeout (stt_worker.py:104-106,419-430 reaps
    sessions idle > session_timeout). Runs the serving configuration:
    continuous processing-time trigger, armed default timeout."""
    import time

    from streamprocess_spark.streaming.sessionizer import (
        SEGMENT_SCHEMA,
        sessionize_stream,
    )

    in_dir = str(tmp_path / "in")
    out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    idle_ms = 1_500

    # 200ms of speech buffered for "idle-sess" (< 320ms size trigger,
    # no is_final) → nothing can emit except through the idle reap
    _write_chunks(spark, in_dir, "idle-sess", [0, 100])

    stream = spark.readStream.schema(CHUNK_SCHEMA).parquet(in_dir)
    q = (
        sessionize_stream(stream, CFG, idle_ms=idle_ms)
        .writeStream.format("parquet")
        .option("path", out_dir)
        .option("checkpointLocation", ckpt)
        .outputMode("append")
        .trigger(processingTime="300 milliseconds")
        .start()
    )
    try:
        deadline = time.time() + 60
        reaped = []
        while time.time() < deadline and not reaped:
            reaped = (
                spark.read.schema(SEGMENT_SCHEMA).parquet(out_dir)
                .filter("session_id = 'idle-sess'")
                .collect()
            )
            time.sleep(0.5)
    finally:
        q.stop()

    assert len(reaped) == 1, "idle session was never reaped"
    seg = reaped[0]
    assert seg.trigger == "final" and not seg.is_partial
    assert seg.n_samples == 2 * CFG.chunk_samples
    assert seg.start_offset_ms == 0 and seg.end_offset_ms == 200


# ----------------------------------------------- autoscaler recurrence

def test_autoscaler_cooldown_recurrence():
    """Cooldown semantics (controller.py:258-268): an applied action
    blocks further actions for COOLDOWN_S; last_scale advances ONLY on
    applied actions, so the block window is anchored to the last real
    scale, not to suppressed attempts."""
    import pandas as pd

    from streamprocess_spark.streaming.autoscaler import (
        COOLDOWN_S,
        run_controller,
    )

    t0 = 1_000_000.0
    rows = pd.DataFrame({
        "worker_type": ["stt"] * 5,
        "window_start": pd.to_datetime(
            [t0, t0 + 300, t0 + 600, t0 + COOLDOWN_S, t0 + COOLDOWN_S + 300],
            unit="s",
        ),
        "ws_epoch": [t0, t0 + 300, t0 + 600, t0 + COOLDOWN_S,
                     t0 + COOLDOWN_S + 300],
        # targets: 5, 1, 1, 1, 1  (rate/0.7/2.0 ceil)
        "rate": [6.5, 0.5, 0.5, 0.5, 0.5],
    })
    out = run_controller(rows)
    assert list(out["action"]) == [
        "scale_up",      # 1 -> 5
        "no_change",     # target 1 but inside cooldown
        "no_change",     # still inside cooldown
        "scale_down",    # cooldown elapsed (>= boundary) -> 5 -> 1
        "no_change",     # back at target
    ]
    assert list(out["replicas"]) == [5, 5, 5, 1, 1]
    # shuffled input must produce identical decisions (event-time sort)
    shuffled = rows.sample(frac=1.0, random_state=7)
    assert run_controller(shuffled).equals(out)


class TestIdleReapReplay:
    """q154: the T8 decision path replayed deterministically (gap-split
    incarnations + end-of-incarnation reap flush)."""

    def _segs(self, spark):
        from streamprocess_spark.plans import query_map

        from tests.conftest import SF_DIR

        return query_map()["q154_idle_reap_replay"](spark, SF_DIR).toPandas()

    def test_incarnations_match_gap_count(self, spark):
        """Each session splits into exactly 1 + (#gaps > 24 h)
        incarnations, and segment indexes restart at 0 in each."""
        import duckdb

        from tests.conftest import SF_DIR

        segs = self._segs(spark)
        expected = {
            str(uid): int(n)
            for uid, n in duckdb.sql(
                f"""
                WITH g AS (
                    SELECT user_id,
                           CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                                    PARTITION BY user_id ORDER BY ts, event_id)
                                > 86400000000 THEN 1 ELSE 0 END AS brk
                    FROM '{SF_DIR}/events.parquet'
                )
                SELECT user_id, 1 + sum(brk) FROM g GROUP BY user_id
                """
            ).fetchall()
        }
        got = (
            segs.groupby("session_id")["incarnation"]
            .nunique()
            .to_dict()
        )
        assert got == expected
        first = segs.groupby(["session_id", "incarnation"])["segment_idx"].min()
        assert (first == 0).all(), "seg_idx must restart at every reap"

    def test_every_incarnation_ends_final(self, spark):
        """The reap flush: each incarnation's last segment is a
        non-partial trigger='final' (T7 for the true session end, T8's
        state.hasTimedOut flush for every earlier incarnation)."""
        segs = self._segs(spark)
        last = segs.loc[
            segs.groupby(["session_id", "incarnation"])["segment_idx"].idxmax()
        ]
        assert (last["trigger"] == "final").all()
        assert (~last["is_partial"]).all()

    def test_single_incarnation_reduces_to_base_sessionizer(self, spark):
        """A session with no qualifying gap must produce exactly the
        base sessionize_batch_segments rows (T8 never fires)."""
        from streamprocess_spark.plans import query_map

        from tests.conftest import SF_DIR

        segs = self._segs(spark)
        n_inc = segs.groupby("session_id")["incarnation"].nunique()
        single = {s for s, n in n_inc.items() if n == 1}
        base = (
            query_map()["sessionize_batch_segments"](spark, SF_DIR)
            .toPandas()
        )
        cols = ["session_id", "segment_idx", "start_offset_ms",
                "end_offset_ms", "n_samples", "is_partial", "trigger",
                "n_context"]
        if not single:
            return
        a = (segs[segs.session_id.isin(single)][cols]
             .sort_values(cols).reset_index(drop=True))
        b = (base[base.session_id.isin(single)][cols]
             .sort_values(cols).reset_index(drop=True))
        # transcripts differ (the composite key feeds the md5) but the
        # whole state trajectory must be identical
        assert a.equals(b)
