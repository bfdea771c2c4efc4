"""Stateful-sessionizer queries (SURVEY M4, T1-T9).

The session recurrence IS oracle-expressible: chunks are synthesized
deterministically from events (chunks_from_events), each chunk's VAD
decision reduces to a closed-form threshold on |value| (the chunk is a
pure sine, so rms == |value|/1000/sqrt(2), with a >=0.004 data margin
vs float32 noise ~1e-7), and the per-chunk state transition
(buffer/trigger/overlap/final — stt_worker.py:469-504) is replayed as
a DuckDB RECURSIVE CTE, the same oracle pattern as
q121_autoscaler_sim. Even the mock transcript matches bit-for-bit
(DuckDB md5() == hashlib.md5 hexdigest). Only mean_energy (a float
reduction over the synthesized samples) is excluded from the
driver-checked projection; it stays covered by
tests/test_sessionizer.py.
"""

from __future__ import annotations

import os
import shutil
import tempfile

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from streamprocess_spark.io.tables import load_tables
from streamprocess_spark.plans.registry import QUERIES, register
from streamprocess_spark.streaming.core import run_to_completion
from streamprocess_spark.streaming.sessionizer import (
    CHUNK_SCHEMA,
    DEFAULT_CONFIG,
    chunks_from_events,
    sessionize_batch,
    sessionize_stream,
)


# Recursive-CTE replay of the sessionizer state machine. Parameters are
# DEFAULT_CONFIG's: 160 samples/chunk (100 ms @ 1600 Hz), 240-sample
# overlap (150 ms), 300 ms VAD endpoint, 320 ms size trigger. The VAD
# threshold |value| > 1000*sqrt(2)*energy_threshold = sqrt(2) is exact
# for the synthesized pure-sine chunks (integer cycle count → rms ==
# |amp|/sqrt(2)); events.value has 0.01 granularity so the nearest
# datum sits 0.0042 from the boundary — ~30,000x any float32 error.
def _sessionizer_oracle(where: str = "") -> str:
    return f"""
    WITH RECURSIVE ch AS (
        SELECT cast(user_id AS VARCHAR) AS session_id,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS i,
               count(*) OVER (PARTITION BY user_id) AS cnt,
               (event_type <> 'error'
                AND abs(value) > 1.4142135623730951) AS speech
        FROM events {where}
    ),
    c2 AS (
        SELECT session_id, i, speech, (i = cnt - 1) AS fin,
               cast(100 * i AS BIGINT) AS o
        FROM ch
    ),
    sim(session_id, i, bl, bs, sr, isp, si,
        emitted, seg_idx, seg_start, seg_end, n, part, trig, nctx) AS (
        SELECT session_id, cast(-1 AS BIGINT), cast(0 AS BIGINT),
               cast(0 AS BIGINT), cast(0 AS BIGINT), false,
               cast(0 AS BIGINT),
               false, cast(NULL AS BIGINT), cast(NULL AS BIGINT),
               cast(NULL AS BIGINT), cast(NULL AS BIGINT),
               cast(NULL AS BOOLEAN), cast(NULL AS VARCHAR),
               cast(NULL AS BIGINT)
        FROM (SELECT DISTINCT session_id FROM c2)
        UNION ALL
        SELECT t.session_id, t.i,
               CASE WHEN NOT t.emit THEN t.bl1
                    WHEN t.part AND t.bl1 > 240 THEN 240
                    ELSE 0 END,
               CASE WHEN NOT t.emit THEN t.bs1
                    WHEN t.part AND t.bl1 > 240
                         THEN t.bs1 + ((t.bl1 - 240) * 5) // 8
                    ELSE t.bs1 + t.bms END,
               CASE WHEN t.fin OR t.vad THEN 0 ELSE t.sr1 END,
               CASE WHEN t.fin OR t.vad THEN false ELSE t.isp1 END,
               CASE WHEN t.emit THEN t.si + 1 ELSE t.si END,
               t.emit, t.si, t.bs1, t.bs1 + t.bms, t.bl1, t.part,
               CASE WHEN t.fin THEN 'final'
                    WHEN t.vad THEN 'vad' ELSE 'size' END,
               least(t.si, 10)
        FROM (
            SELECT s.session_id, c.i, c.fin, s.si,
                   u.bs1, u.bl1, u.isp1, u.sr1,
                   (u.isp1 AND u.sr1 >= 300) AS vad,
                   (u.bl1 * 5) // 8 AS bms,
                   (c.fin OR (u.isp1 AND u.sr1 >= 300)
                    OR (u.bl1 * 5) // 8 >= 320) AS emit,
                   (NOT c.fin) AS part
            FROM sim s
            JOIN c2 c ON c.session_id = s.session_id AND c.i = s.i + 1
            CROSS JOIN LATERAL (
                SELECT CASE WHEN s.bl = 0 THEN c.o ELSE s.bs END AS bs1,
                       s.bl + 160 AS bl1,
                       (s.isp OR c.speech) AS isp1,
                       CASE WHEN c.speech THEN 0
                            ELSE s.sr + 100 END AS sr1
            ) u
        ) t
    )
    SELECT session_id,
           cast(seg_idx AS INT) AS segment_idx,
           cast(seg_start AS BIGINT) AS start_offset_ms,
           cast(seg_end AS BIGINT) AS end_offset_ms,
           cast(n AS INT) AS n_samples,
           part AS is_partial,
           trig AS trigger,
           'seg-' || seg_idx || '-' ||
               substr(md5(session_id || ':' || seg_idx || ':' || n), 1, 8)
               AS transcript,
           cast(nctx AS INT) AS n_context
    FROM sim WHERE emitted
    """


@register(
    "sessionize_batch_segments",
    oracle=_sessionizer_oracle(),
    covers=("T1", "T2", "T3", "T4", "T6", "T7", "F24-mock"),
    doc="Batch form of the custom stateful session operator: per-key "
        "buffer accumulation, 320 ms size trigger, energy-VAD 300 ms "
        "endpoint, 150 ms overlap carry, partial/final emission, mock "
        "transcription — applyInPandas over deterministic chunks "
        "synthesized from events. The full trigger/overlap/final "
        "recurrence (incl. md5 mock transcripts and the T9 context "
        "depth) is replayed bit-for-bit by a DuckDB recursive-CTE "
        "oracle; mean_energy (float reduction) is the one column left "
        "to tests/test_sessionizer.py.",
)
def sessionize_batch_segments(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    chunks = chunks_from_events(ev, DEFAULT_CONFIG)
    return sessionize_batch(chunks, DEFAULT_CONFIG).drop("mean_energy")


@register(
    "stream_sessionizer",
    oracle=_sessionizer_oracle("WHERE user_id < 40"),
    covers=("T1", "T2", "T3", "T4", "T6", "T7", "S7", "§2.11-state"),
    doc="The real streaming form: applyInPandasWithState with state "
        "carried across micro-batches (chunk files replayed one per "
        "trigger), is_final flush dropping state. Converges to the "
        "batch form — asserted in tests/test_sessionizer.py — so the "
        "same recursive-CTE oracle (restricted to the replayed 40 "
        "sessions) checks it bit-for-bit.",
)
def stream_sessionizer(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_tables(spark, sf_dir)["events"]
    # keep the driver-run version bounded: 40 sessions is plenty to
    # exercise multi-batch state
    chunks = chunks_from_events(ev, DEFAULT_CONFIG, max_users=40)

    with tempfile.TemporaryDirectory(prefix="spchunks_") as tmp:
        # several files so availableNow+maxFilesPerTrigger crosses state
        # over micro-batch boundaries
        chunks.orderBy("ts").coalesce(4).write.mode("overwrite").parquet(tmp)

        stream = (
            spark.readStream.schema(CHUNK_SCHEMA)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        # NoTimeout: this is a deterministic availableNow replay — the
        # armed idle reap would keep scheduling timeout batches forever
        # (see sessionize_stream docstring)
        segs = sessionize_stream(stream, DEFAULT_CONFIG, timeout="NoTimeout")
        out = run_to_completion(segs, "append")
    return out.drop("mean_energy")


# ---------------------------------------------------------------------------
# q154: T8 idle-reap decision path, replayed deterministically
# ---------------------------------------------------------------------------

# Event-time idle threshold for the replay: 24 h. The live T8 reap is
# wall-clock (DEFAULT_IDLE_MS = 300 s of processing time,
# stt_worker.py:419-430 reaps sessions idle > session_timeout); a
# deterministic replay substitutes the event timestamps for the arrival
# clock — the reference's own reap test does the same substitution
# (it backdates last_activity instead of sleeping). 24 h sits at the
# ~p90 of the inter-event gaps in the events table, so most sessions
# split into several incarnations while each incarnation still carries
# enough chunks to exercise the buffer/trigger/overlap state machine.
REAP_GAP_US = 86_400_000_000


def _sessionizer_t8_oracle() -> str:
    """The _sessionizer_oracle recurrence with T8 incarnations.

    Deltas vs the base oracle (everything else is identical):
      - chunks are split into per-session INCARNATIONS at event-time
        gaps > REAP_GAP_US; the recurrence key is session_id#k, so
        state (buffer, seg_idx, context ring) drops and restarts at
        every reap boundary exactly as state.remove() does;
      - each incarnation gets one virtual zero-sample final chunk (the
        'reap tick'): feeding an empty is_final chunk is byte-for-byte
        the state.hasTimedOut flush (_emit('final') on the remainder;
        a no-op when the buffer is empty, hence the bl1 > 0 gate on
        emission — the one new condition, matching _SessionCore._emit's
        n == 0 early return);
      - per-chunk sample/ms increments ride in c2 (160/100 for real
        chunks, 0/0 for the tick) instead of being literal in the
        recurrence."""
    return """
    WITH RECURSIVE base AS (
        SELECT cast(user_id AS VARCHAR) AS uid,
               row_number() OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) - 1 AS gi,
               count(*) OVER (PARTITION BY user_id) AS cnt_u,
               (event_type <> 'error'
                AND abs(value) > 1.4142135623730951) AS speech,
               CASE WHEN epoch_us(ts) - lag(epoch_us(ts)) OVER (
                             PARTITION BY user_id ORDER BY ts, event_id)
                         > 86400000000
                    THEN 1 ELSE 0 END AS brk
        FROM events
    ),
    keyed AS (
        SELECT uid || '#' || cast(sum(brk) OVER (PARTITION BY uid
                                                 ORDER BY gi)
                                  AS VARCHAR) AS session_id,
               gi, speech, (gi = cnt_u - 1) AS fin
        FROM base
    ),
    idx AS (
        SELECT session_id, gi, speech, fin,
               row_number() OVER (PARTITION BY session_id
                                  ORDER BY gi) - 1 AS i,
               count(*) OVER (PARTITION BY session_id) AS cnt
        FROM keyed
    ),
    c2 AS (
        SELECT session_id, i, speech, fin, cast(100 * gi AS BIGINT) AS o,
               cast(160 AS BIGINT) AS nsamp, cast(100 AS BIGINT) AS cms
        FROM idx
        UNION ALL
        SELECT session_id, cnt, false, true, cast(0 AS BIGINT),
               cast(0 AS BIGINT), cast(0 AS BIGINT)
        FROM (SELECT DISTINCT session_id, cnt FROM idx)
    ),
    sim(session_id, i, bl, bs, sr, isp, si,
        emitted, seg_idx, seg_start, seg_end, n, part, trig, nctx) AS (
        SELECT session_id, cast(-1 AS BIGINT), cast(0 AS BIGINT),
               cast(0 AS BIGINT), cast(0 AS BIGINT), false,
               cast(0 AS BIGINT),
               false, cast(NULL AS BIGINT), cast(NULL AS BIGINT),
               cast(NULL AS BIGINT), cast(NULL AS BIGINT),
               cast(NULL AS BOOLEAN), cast(NULL AS VARCHAR),
               cast(NULL AS BIGINT)
        FROM (SELECT DISTINCT session_id FROM c2)
        UNION ALL
        SELECT t.session_id, t.i,
               CASE WHEN NOT t.emit THEN t.bl1
                    WHEN t.part AND t.bl1 > 240 THEN 240
                    ELSE 0 END,
               CASE WHEN NOT t.emit THEN t.bs1
                    WHEN t.part AND t.bl1 > 240
                         THEN t.bs1 + ((t.bl1 - 240) * 5) // 8
                    ELSE t.bs1 + t.bms END,
               CASE WHEN t.fin OR t.vad THEN 0 ELSE t.sr1 END,
               CASE WHEN t.fin OR t.vad THEN false ELSE t.isp1 END,
               CASE WHEN t.emit AND t.bl1 > 0 THEN t.si + 1
                    ELSE t.si END,
               (t.emit AND t.bl1 > 0), t.si, t.bs1, t.bs1 + t.bms,
               t.bl1, t.part,
               CASE WHEN t.fin THEN 'final'
                    WHEN t.vad THEN 'vad' ELSE 'size' END,
               least(t.si, 10)
        FROM (
            SELECT s.session_id, c.i, c.fin, s.si,
                   u.bs1, u.bl1, u.isp1, u.sr1,
                   (u.isp1 AND u.sr1 >= 300) AS vad,
                   (u.bl1 * 5) // 8 AS bms,
                   (c.fin OR (u.isp1 AND u.sr1 >= 300)
                    OR (u.bl1 * 5) // 8 >= 320) AS emit,
                   (NOT c.fin) AS part
            FROM sim s
            JOIN c2 c ON c.session_id = s.session_id AND c.i = s.i + 1
            CROSS JOIN LATERAL (
                SELECT CASE WHEN s.bl = 0 THEN c.o ELSE s.bs END AS bs1,
                       s.bl + c.nsamp AS bl1,
                       (s.isp OR c.speech) AS isp1,
                       CASE WHEN c.speech THEN 0
                            ELSE s.sr + c.cms END AS sr1
            ) u
        ) t
    )
    SELECT split_part(session_id, '#', 1) AS session_id,
           cast(split_part(session_id, '#', 2) AS INT) AS incarnation,
           cast(seg_idx AS INT) AS segment_idx,
           cast(seg_start AS BIGINT) AS start_offset_ms,
           cast(seg_end AS BIGINT) AS end_offset_ms,
           cast(n AS INT) AS n_samples,
           part AS is_partial,
           trig AS trigger,
           'seg-' || seg_idx || '-' ||
               substr(md5(session_id || ':' || seg_idx || ':' || n), 1, 8)
               AS transcript,
           cast(nctx AS INT) AS n_context
    FROM sim WHERE emitted
    """


@register(
    "q154_idle_reap_replay",
    oracle=_sessionizer_t8_oracle(),
    covers=("T8",),
    doc="T8 idle-timeout reap, driver-hashable: the chunk stream is "
        "split into per-session incarnations at event-time gaps > 24 h "
        "(the deterministic stand-in for the processing-time clock — "
        "the reference reaps sessions idle > session_timeout, "
        "stt_worker.py:104-106,419-430, and its own reap test "
        "backdates last_activity rather than sleeping), and each "
        "incarnation runs the REAL sessionizer core with the reap "
        "flush at its end: sessionize_batch's end-of-group "
        "_emit('final') is exactly the state.hasTimedOut path — flush "
        "the buffered remainder as a final segment, drop state "
        "(seg_idx and the T9 context ring restart at every reap). The "
        "full per-incarnation recurrence incl. md5 transcripts is "
        "replayed bit-for-bit by the DuckDB recursive CTE; the live "
        "wall-clock trigger stays covered by the armed two-trigger "
        "streaming test (tests/test_sessionizer.py).",
)
def q154_idle_reap_replay(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    ev = load_tables(spark, sf_dir)["events"]
    chunks = chunks_from_events(ev, DEFAULT_CONFIG)
    w = Window.partitionBy("session_id").orderBy("seq")
    # ts is TIMESTAMP_NTZ (µs-truncated staged copy); unix_micros wants
    # TIMESTAMP. The gap is a DIFFERENCE of two casts, so the session-
    # timezone offset cancels and the µs value matches DuckDB's
    # epoch_us subtraction exactly.
    us = F.unix_micros(F.col("ts").cast("timestamp"))
    gap_us = us - F.lag(us).over(w)
    k = F.sum(
        F.when(gap_us > F.lit(REAP_GAP_US), 1).otherwise(0)
    ).over(w)
    incarnated = chunks.withColumn(
        "session_id",
        F.concat_ws("#", F.col("session_id"), k.cast("string")),
    )
    segs = sessionize_batch(incarnated, DEFAULT_CONFIG).drop("mean_energy")
    sid = F.split("session_id", "#")
    return segs.select(
        sid[0].alias("session_id"),
        sid[1].cast("int").alias("incarnation"),
        "segment_idx", "start_offset_ms", "end_offset_ms", "n_samples",
        "is_partial", "trigger", "transcript", "n_context",
    )


@register(
    "q121_autoscaler_sim",
    oracle="""
    WITH RECURSIVE m AS (
        SELECT event_type AS worker_type,
               time_bucket(INTERVAL '5 minutes', cast(ts AS timestamp)) AS w,
               count(*) * 200.0 / 300.0 AS rate
        FROM events GROUP BY 1, 2
    ),
    ord AS (
        SELECT worker_type, w, rate,
               row_number() OVER (PARTITION BY worker_type ORDER BY w) AS rn,
               least(greatest(cast(ceil(rate / 0.7 / 2.0) AS BIGINT), 1), 20)
                   AS cap_t,
               epoch(w) AS ws
        FROM m
    ),
    sim(worker_type, rn, replicas, last_scale, action, target, w, rate) AS (
        SELECT worker_type, rn, cap_t,
               CASE WHEN cap_t = 1 THEN -1000000000000.0 ELSE ws END,
               CASE WHEN cap_t > 1 THEN 'scale_up' ELSE 'no_change' END,
               cap_t, w, rate
        FROM ord WHERE rn = 1
        UNION ALL
        SELECT o.worker_type, o.rn,
               CASE WHEN o.ws - s.last_scale < 1800.0 THEN s.replicas
                    ELSE o.cap_t END,
               CASE WHEN o.ws - s.last_scale < 1800.0
                         OR o.cap_t = s.replicas
                    THEN s.last_scale ELSE o.ws END,
               CASE WHEN o.ws - s.last_scale < 1800.0 THEN 'no_change'
                    WHEN o.cap_t > s.replicas THEN 'scale_up'
                    WHEN o.cap_t < s.replicas THEN 'scale_down'
                    ELSE 'no_change' END,
               o.cap_t, o.w, o.rate
        FROM sim s JOIN ord o
          ON o.worker_type = s.worker_type AND o.rn = s.rn + 1
    )
    SELECT worker_type, w AS window_start, rate,
           cast(target AS BIGINT) AS target,
           cast(replicas AS BIGINT) AS replicas, action
    FROM sim
    """,
    covers=("A10", "A11-adjacent", "M-ops", "§3-control"),
    doc="Autoscaler CONTROL LOOP simulation "
        "(streaming/autoscaler.py; reference controller.py:253-330): "
        "per worker type the metric-window stream is walked in event "
        "time, a ceil-capacity target is computed per window "
        "(q_autoscale_plan's model) and scale_up/scale_down/no_change "
        "is applied under the 30-min cooldown — last_scale advances "
        "only on applied actions, the sequential recurrence that "
        "makes this a STATEFUL operator, not a window query. Runs as "
        "groupBy(worker_type).applyInPandas (sessionizer-style "
        "exception: groups are one-row-per-window tiny); the oracle "
        "replays the exact recurrence as a DuckDB recursive CTE — "
        "every decision, replica count, and cooldown suppression "
        "matches bit-for-bit.",
)
def q121_autoscaler_sim(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.plans.util import ts_sec
    from streamprocess_spark.streaming.autoscaler import autoscaler_decisions

    ev = load_tables(spark, sf_dir)["events"]
    metrics = (
        ev.groupBy(
            F.col("event_type").alias("worker_type"),
            F.window("ts", "5 minutes").alias("win"),
        )
        .agg((F.count(F.lit(1)) * F.lit(200.0) / F.lit(300.0)).alias("rate"))
        .select(
            "worker_type",
            F.col("win.start").alias("window_start"),
            ts_sec(F.col("win.start")).alias("ws_epoch"),
            "rate",
        )
    )
    return autoscaler_decisions(metrics)


@register(
    "stream_autoscaler",
    oracle=QUERIES["q121_autoscaler_sim"].oracle,
    covers=("A10", "§2.11-stateful", "M-ops"),
    doc="Streaming twin of q121: the metric-window stream drives "
        "applyInPandasWithState keyed by worker type, with "
        "(replicas, last_scale) persisted in GroupState across "
        "micro-batches — a checkpoint-resumed run continues the "
        "cooldown exactly where it stopped. Full availableNow replay "
        "converges to the batch recurrence, so the same recursive-CTE "
        "oracle checks it.",
)
def stream_autoscaler(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.plans.util import ts_sec
    from streamprocess_spark.streaming.autoscaler import (
        DECISION_SCHEMA,
        autoscaler_stream_decisions,
    )

    ev = load_tables(spark, sf_dir)["events"]
    metrics = (
        ev.groupBy(
            F.col("event_type").alias("worker_type"),
            F.window("ts", "5 minutes").alias("win"),
        )
        .agg((F.count(F.lit(1)) * F.lit(200.0) / F.lit(300.0)).alias("rate"))
        .select(
            "worker_type",
            F.col("win.start").alias("window_start"),
            ts_sec(F.col("win.start")).alias("ws_epoch"),
            "rate",
        )
    )
    with tempfile.TemporaryDirectory(prefix="spautoscale_") as tmp:
        metrics.coalesce(1).write.mode("overwrite").parquet(tmp)
        mstream = spark.readStream.schema(metrics.schema).parquet(tmp)
        return run_to_completion(
            autoscaler_stream_decisions(mstream), "append"
        )


# ---------------------------------------------------------------------------
# q148: full three-target autoscaler blend (capacity + PID + predictive
# + confidence), reference controller.py:283-312 / 67-110 / 330-400.
# The oracle recursive CTE carries the PID integral/derivative state
# and the cooldown clock; the predictive leg's trailing-600s regression
# is state-free and precomputed per row via lag() in the reference's
# exact evaluation order (see streaming/autoscaler.py for the three
# documented determinization choices). Cooldown is the reference's
# untouched 300 s (config.py:148) over a 2-minute metric cadence —
# 1,582 of the sf0.01 window gaps are below it, so the suppression
# branch is genuinely exercised, and 3,552 gaps fall inside the 600 s
# regression window, so multi-point slopes are too.
# ---------------------------------------------------------------------------

_BL_LAGS = 5   # 600 s window / 120 s min spacing -> at most 5 lags


def _bl_incl(j: int) -> str:
    return f"(t{j} IS NOT NULL AND tr - t{j} <= 600.0)"


def _bl_fold(terms: list[str]) -> str:
    expr = terms[0]
    for t in terms[1:]:
        expr = f"({expr} + {t})"
    return expr


def _bl_sum(val: str, cur: str) -> str:
    # oldest-first left-assoc sum, matching Python's builtin-sum order;
    # excluded lags contribute an exact 0.0
    terms = [
        f"CASE WHEN {_bl_incl(j)} THEN {val.format(j=j)} ELSE 0.0 END"
        for j in range(_BL_LAGS, 0, -1)
    ] + [cur]
    return _bl_fold(terms)


_BL_LAG_COLS = ", ".join(
    f"lag(tr, {j}) OVER wl AS t{j}, lag(rate, {j}) OVER wl AS r{j}"
    for j in range(1, _BL_LAGS + 1)
)

# per-worker-type controller wiring (controller.py:120-135), the same
# odd/even name-length assignment as autoscaler.profile_for: odd ->
# stt (kp 2.0, ki 0.1, kd 0.05, sr 2.0), even -> ocr (1.5/0.08/0.03/1.0)
_BL_ODD = "length(o.worker_type) % 2 = 1"
_BL_SR = f"CASE WHEN {_BL_ODD} THEN 2.0 ELSE 1.0 END"
_BL_NPTS = _bl_fold(
    [f"CASE WHEN {_bl_incl(j)} THEN 1 ELSE 0 END"
     for j in range(_BL_LAGS, 0, -1)] + ["1"]
)

_BLEND_ORACLE = f"""
    WITH RECURSIVE m AS (
        SELECT event_type AS worker_type,
               time_bucket(INTERVAL '2 minutes', cast(ts AS timestamp)) AS w,
               cast(count(*) AS DOUBLE) * 200.0 / 120.0 AS rate,
               sum(CASE WHEN value >= 400.0 THEN 1 ELSE 0 END) AS qd
        FROM events GROUP BY 1, 2
    ),
    ord0 AS (
        SELECT worker_type, w, rate, qd,
               row_number() OVER (PARTITION BY worker_type ORDER BY w)
                   AS rn,
               epoch(w) AS ws,
               epoch(w) - min(epoch(w)) OVER (PARTITION BY worker_type)
                   AS tr
        FROM m
    ),
    lagd AS (
        SELECT *, {_BL_LAG_COLS}
        FROM ord0
        WINDOW wl AS (PARTITION BY worker_type ORDER BY rn)
    ),
    reg AS (
        SELECT worker_type, w, rate, qd, rn, ws,
               {_BL_NPTS} AS n_pts,
               {_bl_sum('t{j}', 'tr')} AS sum_t,
               {_bl_sum('r{j}', 'rate')} AS sum_r,
               {_bl_sum('t{j} * r{j}', 'tr * rate')} AS sum_tr,
               {_bl_sum('t{j} * t{j}', 'tr * tr')} AS sum_tt
        FROM lagd
    ),
    reg2 AS (
        SELECT worker_type, w, rate, qd, rn, ws,
               CASE WHEN n_pts >= 2
                         AND n_pts * sum_tt - sum_t * sum_t <> 0
                    THEN rate + ((n_pts * sum_tr - sum_t * sum_r)
                                 / (n_pts * sum_tt - sum_t * sum_t))
                               * 90.0
                    ELSE NULL END AS pred_rate
        FROM reg
    ),
    sim(worker_type, rn, replicas, last_scale, integral, last_err,
        last_t, w, rate, cap_q, pid_q, pred_q, target, out_replicas,
        action, conf_q) AS (
        SELECT worker_type, cast(0 AS BIGINT), cast(1 AS BIGINT),
               cast(0.0 AS DOUBLE), cast(0.0 AS DOUBLE),
               cast(0.0 AS DOUBLE), cast(-1.0 AS DOUBLE),
               cast(NULL AS TIMESTAMP), cast(NULL AS DOUBLE),
               cast(NULL AS BIGINT), cast(NULL AS BIGINT),
               cast(NULL AS BIGINT), cast(NULL AS BIGINT),
               cast(NULL AS BIGINT), cast(NULL AS VARCHAR),
               cast(NULL AS BIGINT)
        FROM (SELECT DISTINCT worker_type FROM reg2)
        UNION ALL
        SELECT worker_type, rn,
               CASE WHEN cd THEN s_replicas
                    WHEN target <> s_replicas THEN target
                    ELSE s_replicas END,
               CASE WHEN cd THEN s_last_scale
                    WHEN target <> s_replicas THEN ws
                    ELSE s_last_scale END,
               CASE WHEN cd OR dt <= 0 THEN s_integral
                    ELSE s_integral + err * dt END,
               CASE WHEN cd OR dt <= 0 THEN s_last_err ELSE err END,
               CASE WHEN cd OR dt <= 0 THEN lt0 ELSE ws END,
               w, rate,
               CASE WHEN cd THEN NULL
                    ELSE cast(floor(cap_t * 1000000.0) AS BIGINT) END,
               CASE WHEN cd THEN NULL
                    ELSE cast(floor(pid_t * 1000000.0) AS BIGINT) END,
               CASE WHEN cd THEN NULL
                    ELSE cast(floor(pred_t * 1000000.0) AS BIGINT) END,
               CASE WHEN cd THEN s_replicas ELSE target END,
               CASE WHEN cd THEN s_replicas
                    WHEN target <> s_replicas THEN target
                    ELSE s_replicas END,
               CASE WHEN cd THEN 'no_change'
                    WHEN target > s_replicas THEN 'scale_up'
                    WHEN target < s_replicas THEN 'scale_down'
                    ELSE 'no_change' END,
               CASE WHEN cd THEN 1000000
                    ELSE cast(floor(
                        greatest(0.0, least(1.0,
                            CASE WHEN qd = 0 AND target > s_replicas
                                 THEN c1 * 0.3 ELSE c1 END
                        )) * 1000000.0) AS BIGINT) END
        FROM (
            SELECT *,
                   least(greatest(cast(floor(
                       (0.4 * cap_t + 0.3 * pid_t) + 0.3 * pred_t
                   ) AS BIGINT), 1), 10) AS target,
                   CASE WHEN abs(util - 0.7) < 0.1 THEN 0.5
                        ELSE 1.0 END AS c1
            FROM (
                SELECT *,
                       greatest(1.0, s_replicas + pid_out * 2) AS pid_t
                FROM (
                    SELECT *,
                           CASE WHEN dt <= 0 THEN 0.0
                                ELSE (kp * err
                                      + ki * (s_integral + err * dt))
                                     + (kd * (err - s_last_err)) / dt
                                END AS pid_out,
                           ceil(rate / 0.7 / sr) AS cap_t,
                           CASE WHEN pred_rate IS NULL OR pred_rate <= 0
                                THEN cast(s_replicas AS DOUBLE)
                                ELSE ceil(pred_rate / 0.7 / sr)
                                END AS pred_t
                    FROM (
                        SELECT o.worker_type AS worker_type, o.rn AS rn,
                               o.w AS w, o.rate AS rate, o.qd AS qd,
                               o.ws AS ws, o.pred_rate AS pred_rate,
                               s.replicas AS s_replicas,
                               s.last_scale AS s_last_scale,
                               s.integral AS s_integral,
                               s.last_err AS s_last_err,
                               CASE WHEN {_BL_ODD} THEN 2.0
                                    ELSE 1.5 END AS kp,
                               CASE WHEN {_BL_ODD} THEN 0.1
                                    ELSE 0.08 END AS ki,
                               CASE WHEN {_BL_ODD} THEN 0.05
                                    ELSE 0.03 END AS kd,
                               {_BL_SR} AS sr,
                               CASE WHEN s.last_t < 0 THEN o.ws
                                    ELSE s.last_t END AS lt0,
                               (o.ws - s.last_scale < 300.0) AS cd,
                               o.rate / (s.replicas * ({_BL_SR}))
                                   AS util,
                               0.7 - o.rate / (s.replicas * ({_BL_SR}))
                                   AS err,
                               o.ws - CASE WHEN s.last_t < 0 THEN o.ws
                                           ELSE s.last_t END AS dt
                        FROM sim s JOIN reg2 o
                          ON o.worker_type = s.worker_type
                         AND o.rn = s.rn + 1
                    ) z1
                ) z2
            ) z2b
        ) z3
    )
    SELECT worker_type, w AS window_start, rate, cap_q, pid_q, pred_q,
           target, out_replicas AS replicas, action, conf_q
    FROM sim
    WHERE rn >= 1
"""


def _blend_metrics(spark: SparkSession, sf_dir: str) -> DataFrame:
    from pyspark.sql.window import Window

    from streamprocess_spark.plans.util import ts_sec

    ev = load_tables(spark, sf_dir)["events"]
    base = (
        ev.groupBy(
            F.col("event_type").alias("worker_type"),
            F.window("ts", "2 minutes").alias("win"),
        )
        .agg(
            (F.count(F.lit(1)).cast("double") * F.lit(200.0)
             / F.lit(120.0)).alias("rate"),
            F.sum(
                F.when(F.col("value") >= 400.0, F.lit(1)).otherwise(
                    F.lit(0)
                )
            ).alias("queue_depth"),
        )
        .select(
            "worker_type",
            F.col("win.start").alias("window_start"),
            ts_sec(F.col("win.start")).alias("ws_epoch"),
            "rate",
            "queue_depth",
        )
    )
    w = Window.partitionBy("worker_type")
    return base.withColumn(
        "t_rel", F.col("ws_epoch") - F.min("ws_epoch").over(w)
    )


@register(
    "q148_autoscaler_blend",
    oracle=_BLEND_ORACLE,
    covers=("A10", "A11", "P5-adjacent", "M-ops", "§3-control"),
    doc="Full reference scaling decision: 0.4*capacity + 0.3*PID + "
        "0.3*predictive blend with confidence "
        "(src/autoscaler/controller.py:283-312), the PID integral/"
        "derivative recurrence (controller.py:67-110) under the "
        "CONSTRUCTED per-worker-type gains and service rates "
        "(controller.py:120-135: stt kp=2.0/ki=0.1/kd=0.05 sr=2.0, "
        "ocr kp=1.5/ki=0.08/kd=0.03 sr=1.0 — both profiles exercised "
        "via the odd/even name-length assignment), "
        "least-squares arrival-rate trend extrapolated warmup_time=90s "
        "ahead (controller.py:330-368), and the UNSCALED 300 s "
        "autoscale_cooldown_seconds (config.py:148). Runs as "
        "groupBy(worker_type).applyInPandas; the oracle recursive CTE "
        "carries (replicas, last_scale, integral, last_err, last_t) "
        "and replays every double in the reference's evaluation order "
        "— decisions, quantized targets, and confidences match "
        "bit-for-bit.",
)
def q148_autoscaler_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.streaming.autoscaler import blended_decisions

    return blended_decisions(_blend_metrics(spark, sf_dir))


@register(
    "stream_autoscaler_blend",
    oracle=_BLEND_ORACLE,
    covers=("A10", "§2.11-stateful", "M-ops"),
    doc="Streaming twin of q148: (replicas, last_scale, PID integral/"
        "last_err/last_t) persist in GroupState across micro-batches. "
        "availableNow full replay converges to the batch recurrence, "
        "so the same recursive-CTE oracle checks it.",
)
def stream_autoscaler_blend(spark: SparkSession, sf_dir: str) -> DataFrame:
    from streamprocess_spark.streaming.autoscaler import (
        blended_stream_decisions,
    )

    metrics = _blend_metrics(spark, sf_dir)
    with tempfile.TemporaryDirectory(prefix="spblend_") as tmp:
        # 4 time-contiguous files + one file per trigger: micro-batch
        # boundaries land INSIDE cooldowns and regression windows, so the
        # oracle genuinely checks the carried GroupState (PID fields + the
        # bounded regression history), not a single-batch replay
        metrics.orderBy("window_start").coalesce(4).write.mode(
            "overwrite"
        ).parquet(tmp)
        mstream = (
            spark.readStream.schema(metrics.schema)
            .option("maxFilesPerTrigger", 1)
            .parquet(tmp)
        )
        return run_to_completion(
            blended_stream_decisions(mstream), "append"
        )
