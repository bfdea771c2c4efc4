"""Custom stateful session operator (SURVEY M4, T1-T9) — the one
component with no built-in Spark equivalent, implemented with
applyInPandasWithState.

Semantics reproduced from the reference STT worker
(src/workers/stt_worker.py):
  T1  keyed SessionState per session_id            (:147-163, :433-467)
  T2  trigger at >= trigger_ms buffered OR VAD
      silence >= silence_ms after speech           (:469-479; config.py:121,123)
  T3  on emit, retain the last overlap_ms of
      buffer as sliding context                    (:481-504; config.py:122)
  T4  energy-threshold VAD state machine           (:522-537)
  T6  partial segments (mid-stream) vs final
      (is_final flush)                             (:167-174,332-356,396-417)
  T7  is_final chunk → flush remainder, drop state (:396-417)
  T8  idle timeout reap (processing-time timeout)  (:419-430)

The SAME pure-pandas core runs in three modes:
  - streaming: groupBy(session_id).applyInPandasWithState (state
    carried across micro-batches, availableNow replay)
  - batch: groupBy(session_id).applyInPandas (whole session at once)
  - convergence tests assert stream == batch on identical input.

Audio is synthesized deterministically from the events table (value →
amplitude, 'error' events → silence chunks), so segment boundaries are
a pure function of event time — no wall-clock anywhere.
"""

from __future__ import annotations

import hashlib
import json
from dataclasses import dataclass
from typing import Iterable, Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.streaming.state import GroupState, GroupStateTimeout


@dataclass(frozen=True)
class SessionizerConfig:
    """Scaled analog of the reference knobs (src/config.py:117-124)."""

    sample_rate: int = 1600          # samples/sec (scaled from 16 kHz)
    chunk_ms: int = 100              # chunk cadence (config.py:117)
    trigger_ms: int = 320            # audio_chunk_size_ms (config.py:121)
    overlap_ms: int = 150            # audio_chunk_overlap_ms (config.py:122)
    silence_ms: int = 300            # vad silence endpoint (config.py:123)
    energy_threshold: float = 1e-3   # RMS speech threshold (stt_worker.py:527)

    @property
    def chunk_samples(self) -> int:
        return self.sample_rate * self.chunk_ms // 1000

    @property
    def overlap_samples(self) -> int:
        return self.sample_rate * self.overlap_ms // 1000


DEFAULT_CONFIG = SessionizerConfig()

CHUNK_SCHEMA = T.StructType([
    T.StructField("session_id", T.StringType()),
    T.StructField("seq", T.LongType()),
    T.StructField("ts", T.TimestampType()),
    T.StructField("offset_ms", T.LongType()),
    T.StructField("duration_ms", T.IntegerType()),
    T.StructField("samples", T.ArrayType(T.FloatType())),
    T.StructField("is_final", T.BooleanType()),
])

SEGMENT_SCHEMA = T.StructType([
    T.StructField("session_id", T.StringType()),
    T.StructField("segment_idx", T.IntegerType()),
    T.StructField("start_offset_ms", T.LongType()),
    T.StructField("end_offset_ms", T.LongType()),
    T.StructField("n_samples", T.IntegerType()),
    T.StructField("is_partial", T.BooleanType()),
    T.StructField("trigger", T.StringType()),       # size|vad|final
    T.StructField("mean_energy", T.DoubleType()),
    T.StructField("transcript", T.StringType()),    # mock decode (F24 stand-in)
    T.StructField("n_context", T.IntegerType()),    # T9 ring-buffer depth at decode time
])

SEGMENT_SCHEMA_DDL = (
    "session_id string, segment_idx int, start_offset_ms long, "
    "end_offset_ms long, n_samples int, is_partial boolean, "
    "trigger string, mean_energy double, transcript string, n_context int"
)

# State tuple layout for GroupState. It holds no array column: Spark
# re-plans the stateful operator on every trigger and builds a new state
# encoder each time, and an array field's MapObjects takes fresh
# lambda-variable ids, so the generated (de)serializer source differs
# every trigger, misses the codegen cache and is compiled again (two
# classes per trigger, while the other state tasks wait on the compile
# lock). So the audio buffer is stored as little-endian float32 bytes
# (bit-exact round trip) and the context ring as a JSON list.
STATE_SCHEMA_DDL = (
    "buf binary, buf_start_ms long, silence_run_ms int, "
    "in_speech boolean, seg_idx int, context string"
)

# T9: transcript context ring buffer — last N partial transcripts kept
# as decoding context (SessionState.add_result, stt_worker.py:510-520)
CONTEXT_KEEP = 10


def mock_transcribe(session_id: str, seg_idx: int, n_samples: int) -> str:
    """Deterministic stand-in for whisper.transcribe (F24): the
    reference's own tests mock the model the same way
    (tests/conftest.py:168-185)."""
    h = hashlib.md5(f"{session_id}:{seg_idx}:{n_samples}".encode()).hexdigest()[:8]
    return f"seg-{seg_idx}-{h}"


class _SessionCore:
    """Pure-python sessionizer core, shared by batch and streaming."""

    def __init__(self, cfg: SessionizerConfig, session_id: str,
                 buf: np.ndarray, buf_start_ms: int, silence_run_ms: int,
                 in_speech: bool, seg_idx: int,
                 context: list[str] | None = None):
        self.cfg = cfg
        self.session_id = session_id
        self.buf = buf
        self.buf_start_ms = buf_start_ms
        self.silence_run_ms = silence_run_ms
        self.in_speech = in_speech
        self.seg_idx = seg_idx
        self.context: list[str] = list(context or [])
        self.out: list[tuple] = []

    @classmethod
    def fresh(cls, cfg: SessionizerConfig, session_id: str) -> "_SessionCore":
        return cls(cfg, session_id, np.empty(0, dtype=np.float32), 0, 0, False, 0, [])

    def _buffered_ms(self) -> int:
        return int(len(self.buf) * 1000 // self.cfg.sample_rate)

    def _emit(self, trigger: str, is_partial: bool) -> None:
        cfg = self.cfg
        n = len(self.buf)
        if n == 0:
            return
        seg_ms = self._buffered_ms()
        energy = float(np.sqrt(np.mean(self.buf.astype(np.float64) ** 2)))
        transcript = mock_transcribe(self.session_id, self.seg_idx, n)
        self.out.append((
            self.session_id, self.seg_idx, self.buf_start_ms,
            self.buf_start_ms + seg_ms, n, is_partial, trigger,
            round(energy, 9),
            transcript,
            len(self.context),
        ))
        # T9: append to the ring AFTER decode (the emitted n_context is
        # the context depth the decoder saw), keep last CONTEXT_KEEP
        self.context.append(transcript)
        if len(self.context) > CONTEXT_KEEP:
            self.context = self.context[-CONTEXT_KEEP:]
        self.seg_idx += 1
        if is_partial and n > cfg.overlap_samples:
            # T3: retain overlap_ms of context; advance the processed
            # offset (get_processing_segment, stt_worker.py:481-504)
            advance = n - cfg.overlap_samples
            self.buf = self.buf[advance:]
            self.buf_start_ms += int(advance * 1000 // cfg.sample_rate)
        else:
            self.buf_start_ms += seg_ms
            self.buf = np.empty(0, dtype=np.float32)

    def feed(self, offset_ms: int, samples: np.ndarray, is_final: bool) -> None:
        cfg = self.cfg
        if len(self.buf) == 0:
            self.buf_start_ms = int(offset_ms)
        self.buf = np.concatenate([self.buf, samples.astype(np.float32)])
        # T4: VAD state machine (_update_vad_state, stt_worker.py:522-537)
        rms = float(np.sqrt(np.mean(samples.astype(np.float64) ** 2))) if len(samples) else 0.0
        chunk_ms = int(len(samples) * 1000 // cfg.sample_rate)
        if rms > cfg.energy_threshold:
            self.in_speech = True
            self.silence_run_ms = 0
        else:
            self.silence_run_ms += chunk_ms
        # T2: size/time trigger (should_process, stt_worker.py:469-479)
        vad_endpoint = self.in_speech and self.silence_run_ms >= cfg.silence_ms
        if is_final:
            # T7: finalize (stt_worker.py:396-417)
            self._emit("final", is_partial=False)
            self.in_speech = False
            self.silence_run_ms = 0
        elif vad_endpoint:
            self._emit("vad", is_partial=True)
            self.in_speech = False
            self.silence_run_ms = 0
        elif self._buffered_ms() >= cfg.trigger_ms:
            self._emit("size", is_partial=True)


def _run_chunks(core: _SessionCore, pdf: pd.DataFrame) -> None:
    pdf = pdf.sort_values(["offset_ms", "seq"])
    for row in pdf.itertuples(index=False):
        core.feed(
            int(row.offset_ms),
            np.asarray(row.samples, dtype=np.float32),
            bool(row.is_final),
        )


def sessionize_batch_fn(cfg: SessionizerConfig):
    """applyInPandas function: one whole session per group."""

    def fn(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        core = _SessionCore.fresh(cfg, key[0])
        _run_chunks(core, pdf)
        # batch end == stream end: flush any remainder as final
        core._emit("final", is_partial=False)
        return pd.DataFrame(core.out, columns=[f.name for f in SEGMENT_SCHEMA])

    return fn


def sessionize_stream_fn(cfg: SessionizerConfig, idle_ms: int | None = None):
    """applyInPandasWithState function: state carried across
    micro-batches; is_final (or timeout) drops the state.

    When idle_ms is set the timeout is ARMED: every non-final state
    update re-registers a processing-time timeout of idle_ms, so a
    session that stops sending chunks is reaped — flushed as a final
    segment — by a later micro-batch (T8; the reference reaps sessions
    idle > session_timeout every 100 jobs, stt_worker.py:104-106,
    419-430)."""

    def restore(session_id: str, state: GroupState) -> _SessionCore:
        (buf, buf_start_ms, silence_run_ms, in_speech, seg_idx,
         context) = state.get
        return _SessionCore(
            cfg, session_id, np.frombuffer(buf, dtype="<f4"),
            buf_start_ms, silence_run_ms, in_speech, seg_idx,
            json.loads(context),
        )

    def fn(
        key: tuple, pdfs: Iterable[pd.DataFrame], state: GroupState
    ) -> Iterator[pd.DataFrame]:
        session_id = key[0]
        if state.hasTimedOut:
            # T8: idle reap — flush remainder as final
            core = restore(session_id, state)
            core._emit("final", is_partial=False)
            state.remove()
            yield pd.DataFrame(core.out, columns=[f.name for f in SEGMENT_SCHEMA])
            return

        if state.exists:
            core = restore(session_id, state)
        else:
            core = _SessionCore.fresh(cfg, session_id)

        saw_final = False
        for pdf in pdfs:
            saw_final = saw_final or bool(pdf["is_final"].any())
            _run_chunks(core, pdf)

        if saw_final:
            state.remove()
        else:
            state.update((
                core.buf.astype("<f4").tobytes(),
                core.buf_start_ms, core.silence_run_ms,
                core.in_speech, core.seg_idx, json.dumps(core.context),
            ))
            if idle_ms is not None:
                # T8: (re)arm the idle reap — the reference resets
                # last_activity on every chunk (stt_worker.py:465) and
                # reaps when now - last_activity > session_timeout
                state.setTimeoutDuration(idle_ms)
        yield pd.DataFrame(core.out, columns=[f.name for f in SEGMENT_SCHEMA])

    return fn


# Reference idle reap threshold: session_timeout = 300 s
# (src/config.py session_timeout; stt_worker.py:419-430)
DEFAULT_IDLE_MS = 300_000


def sessionize_stream(
    chunks: DataFrame,
    cfg: SessionizerConfig = DEFAULT_CONFIG,
    timeout: str = "ProcessingTimeTimeout",
    idle_ms: int = DEFAULT_IDLE_MS,
) -> DataFrame:
    """Streaming stateful sessionization over a chunk stream. The idle
    reap (T8) is armed by default: sessions with no traffic for idle_ms
    are flushed as finals by the next micro-batch after expiry.

    CAVEAT — deterministic replays must pass timeout="NoTimeout":
    with ProcessingTimeTimeout armed, Spark schedules extra
    micro-batches to fire pending timeouts (FlatMapGroupsWithStateExec
    .shouldRunAnotherBatch is unconditionally true for processing-time
    timeouts), so a Trigger.AvailableNow replay never terminates. That
    is also the semantically right split: wall-clock reaping has no
    place in an event-time-deterministic replay (core.py contract);
    it exists for continuous serving, where the reference reaps idle
    sessions every 100 jobs (stt_worker.py:104-106,419-430).

    Checkpoints written while the state held arrays (``buf
    array<float>``, ``context array<string>``; see STATE_SCHEMA_DDL)
    must be discarded: restarting one fails with
    ``STATE_STORE_VALUE_SCHEMA_NOT_COMPATIBLE``."""
    from streamprocess_spark.session import ensure_workers_can_import

    ensure_workers_can_import(chunks.sparkSession)
    armed = timeout == "ProcessingTimeTimeout"
    return chunks.groupBy("session_id").applyInPandasWithState(
        sessionize_stream_fn(cfg, idle_ms if armed else None),
        outputStructType=SEGMENT_SCHEMA_DDL,
        stateStructType=STATE_SCHEMA_DDL,
        outputMode="append",
        timeoutConf=getattr(GroupStateTimeout, timeout),
    )


def sessionize_batch(
    chunks: DataFrame, cfg: SessionizerConfig = DEFAULT_CONFIG
) -> DataFrame:
    """Batch analog: whole-session applyInPandas (same core)."""
    from streamprocess_spark.session import ensure_workers_can_import

    ensure_workers_can_import(chunks.sparkSession)
    return chunks.groupBy("session_id").applyInPandas(
        sessionize_batch_fn(cfg), schema=SEGMENT_SCHEMA
    )


# ---------------------------------------------------------------------------
# Deterministic chunk synthesis from the events table
# ---------------------------------------------------------------------------

def chunks_from_events(events: DataFrame, cfg: SessionizerConfig = DEFAULT_CONFIG,
                       max_users: int | None = None) -> DataFrame:
    """Derive an audio-chunk stream from events: each event becomes one
    chunk of a per-user session. 'error' events become silence chunks
    (amplitude 0 → VAD endpoints); other types carry value-scaled sine
    audio. offset_ms advances chunk_ms per event. The last event of a
    user is the is_final chunk (proto:104). Fully deterministic —
    segment boundaries are a pure function of the events table."""
    from pyspark.sql.window import Window

    ev = events
    if max_users is not None:
        ev = ev.filter(F.col("user_id") < max_users)
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wcnt = Window.partitionBy("user_id")
    n = cfg.chunk_samples
    amp = F.when(F.col("event_type") == "error", F.lit(0.0)).otherwise(
        F.col("value") / 1000.0
    )
    # samples[i] = amp * sin(2π * 5 * i / n)  (JVM-side transform, no UDF)
    samples = F.transform(
        F.sequence(F.lit(0), F.lit(n - 1)),
        lambda i: (
            amp * F.sin(i.cast("double") * (2.0 * np.pi * 5.0 / n))
        ).cast("float"),
    )
    return ev.select(
        F.col("user_id").cast("string").alias("session_id"),
        (F.row_number().over(w) - 1).cast("long").alias("seq"),
        "ts",
        ((F.row_number().over(w) - 1) * cfg.chunk_ms).cast("long").alias("offset_ms"),
        F.lit(cfg.chunk_ms).alias("duration_ms"),
        samples.alias("samples"),
        (F.row_number().over(w) == F.count(F.lit(1)).over(wcnt)).alias("is_final"),
    )
