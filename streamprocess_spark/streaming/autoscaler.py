"""Autoscaler control loop (SURVEY §2 A10/A11 runtime consumer; the
reference's scaling CONTROLLER, src/autoscaler/controller.py:253-330):
per worker type, walk the metric stream in event-time order, compute a
capacity-model target, and apply scale_up / scale_down / no_change
decisions under a cooldown — the stateful recurrence q_autoscale_plan's
stateless capacity query feeds.

Reference semantics reproduced:
  - capacity target = ceil(arrival_rate / target_utilization /
    service_rate), clamped to [min, max] (controller.py:315-330,
    config defaults 0.8/0.3 thresholds folded into the single
    capacity model per SURVEY's simplification note)
  - cooldown: no action within COOLDOWN_S of the last applied scale
    (controller.py:258-268; autoscale_cooldown_seconds)
  - last_scale advances ONLY when an action is applied

The recurrence (replicas, last_scale) is inherently sequential per
worker type — the legitimate imperative-stateful exception, run as
groupBy(worker_type).applyInPandas exactly like the sessionizer
(groups are tiny: one row per metric window). All arithmetic is
rational doubles + exact ceil/clamp, so a DuckDB recursive CTE
replays every decision bit-for-bit (q121's oracle).
"""

from __future__ import annotations

import math

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SERVICE_RATE = 2.0        # jobs/s/worker (controller.py:131-135, STT)
TARGET_UTIL = 0.7         # target utilization headroom
MIN_WORKERS = 1
MAX_WORKERS = 20
COOLDOWN_S = 1800.0       # 300 s scaled to the 5-min metric cadence
_NEG_INF = -1.0e12

# --- full-blend controller constants (reference defaults, untouched) ---
KP, KI, KD = 1.0, 0.1, 0.05   # PIDController defaults (controller.py:70)
# Constructed per-worker-type controller wiring overrides the class
# defaults (controller.py:120-123) and pairs with per-type service
# rates (controller.py:131-135): (kp, ki, kd, service_rate).
PROFILES = {
    "stt": (2.0, 0.1, 0.05, 2.0),
    "ocr": (1.5, 0.08, 0.03, 1.0),
}
REF_COOLDOWN_S = 300.0        # autoscale_cooldown_seconds (config.py:148)
WARMUP_S = 90.0               # autoscale_warmup_time_seconds (config.py:147)
PREDICT_WINDOW_S = 600.0      # _calculate_predictive_target window
BLEND_MIN, BLEND_MAX = 1, 10  # autoscale_min/max_workers (config.py:142-143)
ERROR_RATE = 0.01             # _collect_metrics placeholder error rate


DECISION_SCHEMA = T.StructType([
    T.StructField("worker_type", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("rate", T.DoubleType()),
    T.StructField("target", T.LongType()),
    T.StructField("replicas", T.LongType()),
    T.StructField("action", T.StringType()),
])


def capacity_target(rate: float) -> int:
    """controller.py:315-330 capacity model, clamped."""
    t = math.ceil(rate / TARGET_UTIL / SERVICE_RATE)
    return max(MIN_WORKERS, min(MAX_WORKERS, t))


def controller_step(
    pdf: pd.DataFrame, replicas: int, last_scale: float,
    cooldown_s: float = COOLDOWN_S,
) -> tuple[pd.DataFrame, int, float]:
    """Seedable recurrence core: apply the control loop to a batch of
    metric windows starting from (replicas, last_scale); returns the
    decisions plus the carried-forward state (the streaming form
    persists it in GroupState across micro-batches). cooldown_s is
    parameterized (round-6 verdict #3) so the reference's 300 s
    autoscale_cooldown_seconds is testable as-is."""
    pdf = pdf.sort_values("window_start", ignore_index=True)
    rows = []
    for r in pdf.itertuples(index=False):
        ws = r.ws_epoch
        target = capacity_target(r.rate)
        if ws - last_scale < cooldown_s:
            action = "no_change"
        elif target > replicas:
            action, replicas, last_scale = "scale_up", target, ws
        elif target < replicas:
            action, replicas, last_scale = "scale_down", target, ws
        else:
            action = "no_change"
        rows.append({
            "worker_type": r.worker_type,
            "window_start": r.window_start,
            "rate": r.rate,
            "target": target,
            "replicas": replicas,
            "action": action,
        })
    return pd.DataFrame(rows), replicas, last_scale


def run_controller(pdf: pd.DataFrame) -> pd.DataFrame:
    """One worker type's full metric history → decisions (batch form)."""
    out, _, _ = controller_step(pdf, MIN_WORKERS, _NEG_INF)
    return out


def autoscaler_decisions(metrics: DataFrame) -> DataFrame:
    """metrics: (worker_type, window_start timestamp, ws_epoch double,
    rate double) → decision stream. One tiny group per worker type."""
    return metrics.groupBy("worker_type").applyInPandas(
        run_controller, schema=DECISION_SCHEMA
    )


def autoscale_stream_fn(key, pdf_iter, state):
    """applyInPandasWithState form: (replicas, last_scale) persists in
    GroupState across micro-batches, so a resumed/checkpointed run
    continues the cooldown exactly where it left off — the streaming
    twin of q121 (decisions converge to the batch recurrence on full
    replay)."""
    pdf = pd.concat(list(pdf_iter), ignore_index=True)
    if state.exists:
        replicas, last_scale = state.get
    else:
        replicas, last_scale = MIN_WORKERS, _NEG_INF
    out, replicas, last_scale = controller_step(pdf, int(replicas), float(last_scale))
    state.update((int(replicas), float(last_scale)))
    yield out


STATE_SCHEMA = T.StructType([
    T.StructField("replicas", T.LongType()),
    T.StructField("last_scale", T.DoubleType()),
])


def autoscaler_stream_decisions(metrics_stream: DataFrame) -> DataFrame:
    return metrics_stream.groupBy("worker_type").applyInPandasWithState(
        autoscale_stream_fn,
        outputStructType=DECISION_SCHEMA,
        stateStructType=STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )


# ---------------------------------------------------------------------------
# Full three-target blend controller (round-6 verdict ask #2): the
# reference combines 0.4*capacity + 0.3*PID + 0.3*predictive with a
# confidence score (src/autoscaler/controller.py:283-312), where the PID
# is the integral/derivative recurrence (controller.py:67-110) under
# the constructed per-worker-type gains + service rates (PROFILES
# above, controller.py:120-135) and the predictive leg is a least-squares
# arrival-rate trend over the trailing 600 s extrapolated warmup_time
# ahead (controller.py:330-368). Determinization choices, documented:
#   - pid.last_time seeds at the worker's FIRST metric window (the
#     reference seeds at construction wall-time); the first update then
#     has dt == 0 and returns 0.0 WITHOUT touching state, exactly the
#     reference's dt<=0 early-return.
#   - last_scale seeds at epoch 0 (reference current_state last_scale=0
#     against wall-clock epochs), so the first window is never inside
#     the cooldown.
#   - the regression runs on per-worker RELATIVE window times (ws -
#     first_ws). Mathematically the slope is identical (shift
#     invariance); numerically it keeps every t, t*t term an exact
#     small integer double instead of a catastrophically-cancelling
#     ~1e18, so the DuckDB oracle replays it bit-for-bit.
#   - every float expression below is written in the reference's
#     evaluation order, and the oracle's recursive CTE mirrors the same
#     order, so doubles agree bit-for-bit with no epsilon.
# ---------------------------------------------------------------------------


BLEND_SCHEMA = T.StructType([
    T.StructField("worker_type", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("rate", T.DoubleType()),
    T.StructField("cap_q", T.LongType()),      # quantized floor(x*1e6)
    T.StructField("pid_q", T.LongType()),      # NULL on cooldown rows
    T.StructField("pred_q", T.LongType()),
    T.StructField("target", T.LongType()),
    T.StructField("replicas", T.LongType()),
    T.StructField("action", T.StringType()),
    T.StructField("conf_q", T.LongType()),     # quantized confidence
])

_PRED_LAGS = 5  # 600 s window at 120 s cadence -> current + 5 lags


def profile_for(worker_type: str) -> tuple[float, float, float, float]:
    """Per-worker-type (kp, ki, kd, service_rate). The synthetic metric
    stream's worker types are event names, not the reference's literal
    'stt'/'ocr' keys; parity requires exercising BOTH constructed
    controller profiles (controller.py:120-135), so assignment is by a
    rule both engines compute exactly the same way: odd-length names
    take the stt profile, even-length names the ocr profile."""
    return PROFILES["stt" if len(worker_type) % 2 == 1 else "ocr"]


def _predicted_rate(hist: list[tuple[float, float]]) -> float | None:
    """controller.py:330-368 linear-regression extrapolation over the
    trailing-window (t_rel, rate) points, oldest first. Returns None
    when the reference would fall back to current_replicas."""
    if len(hist) < 2:
        return None
    n = len(hist)
    sum_t = 0.0
    sum_r = 0.0
    sum_tr = 0.0
    sum_tt = 0.0
    for t, rate in hist:          # oldest-first, matching builtin sum()
        sum_t += t
        sum_r += rate
        sum_tr += t * rate
        sum_tt += t * t
    denom = n * sum_tt - sum_t * sum_t
    if denom == 0:
        return None
    slope = (n * sum_tr - sum_t * sum_r) / denom
    return hist[-1][1] + slope * WARMUP_S


def _q6(x: float) -> int:
    return int(math.floor(x * 1e6))


def blended_controller_step(
    pdf: pd.DataFrame,
    replicas: int, last_scale: float,
    integral: float, last_err: float, last_t: float,
    hist: list[tuple[float, float]] | None = None,
) -> tuple[pd.DataFrame, tuple]:
    """One worker type's metric windows through the full reference
    decision path. pdf columns: worker_type, window_start, ws_epoch,
    t_rel, rate, queue_depth — t_rel = ws - first_ws carried from the
    plan so batch and streaming forms see identical regression inputs.
    last_t < 0 means 'unseeded' (seed at first window, see above).
    hist is the trailing-PREDICT_WINDOW_S regression history (at most
    6 points at the 120 s cadence) — part of the carried state, so a
    batch split landing INSIDE a regression window still reproduces
    the one-shot replay exactly (asserted by
    tests/test_autoscaler_blend.py::test_split_replay_equals_single_shot)."""
    pdf = pdf.sort_values("window_start", ignore_index=True)
    rows = []
    # regression history: (t_rel, rate), trailing PREDICT_WINDOW_S
    hist = list(hist) if hist else []
    for r in pdf.itertuples(index=False):
        ws = float(r.ws_epoch)
        if last_t < 0:
            last_t = ws
        hist.append((float(r.t_rel), float(r.rate)))
        hist = [h for h in hist
                if float(r.t_rel) - h[0] <= PREDICT_WINDOW_S]
        base = {
            "worker_type": r.worker_type, "window_start": r.window_start,
            "rate": float(r.rate),
        }
        if ws - last_scale < REF_COOLDOWN_S:
            # cooldown early-return: targets not computed, PID state
            # untouched (controller.py:262-274)
            rows.append({**base, "cap_q": None, "pid_q": None,
                         "pred_q": None, "target": replicas,
                         "replicas": replicas, "action": "no_change",
                         "conf_q": _q6(1.0)})
            continue
        kp, ki, kd, sr = profile_for(str(r.worker_type))
        # capacity leg (controller.py:315-330; rate > 0 by construction)
        cap_t = float(math.ceil(r.rate / TARGET_UTIL / sr))
        # PID leg (controller.py:67-110 + 332-345), per-type gains
        util = r.rate / (replicas * sr)
        err = TARGET_UTIL - util
        dt = ws - last_t
        if dt <= 0:
            pid_out = 0.0
        else:
            integral = integral + err * dt
            pid_out = kp * err + ki * integral + kd * (err - last_err) / dt
            last_err = err
            last_t = ws
        pid_t = max(1.0, replicas + pid_out * 2)
        # predictive leg (controller.py:347-368)
        pr = _predicted_rate(hist)
        if pr is None or pr <= 0:
            pred_t = float(replicas)
        else:
            pred_t = float(math.ceil(pr / TARGET_UTIL / sr))
        # blend + clamp (controller.py:283-295); int() truncates, and
        # the sum is positive, so floor == the reference's int()
        target = int(0.4 * cap_t + 0.3 * pid_t + 0.3 * pred_t)
        target = max(BLEND_MIN, min(BLEND_MAX, target))
        if target > replicas:
            action = "scale_up"
        elif target < replicas:
            action = "scale_down"
        else:
            action = "no_change"
        # confidence (controller.py:370-388); ERROR_RATE=0.01 keeps the
        # error-rate branch dead exactly as the reference placeholder
        conf = 1.0
        if abs(util - TARGET_UTIL) < 0.1:
            conf *= 0.5
        if r.queue_depth == 0 and target > replicas:
            conf *= 0.3
        if ERROR_RATE > 0.05:
            conf *= 0.7
        conf = max(0.0, min(1.0, conf))
        rows.append({**base, "cap_q": _q6(cap_t), "pid_q": _q6(pid_t),
                     "pred_q": _q6(pred_t), "target": target,
                     "replicas": target if action != "no_change"
                     else replicas,
                     "action": action, "conf_q": _q6(conf)})
        if action != "no_change":  # _execute_scaling
            replicas = target
            last_scale = ws
    out = pd.DataFrame(rows, columns=[f.name for f in BLEND_SCHEMA])
    return out, (replicas, last_scale, integral, last_err, last_t, hist)


def run_blended_controller(pdf: pd.DataFrame) -> pd.DataFrame:
    out, _ = blended_controller_step(
        pdf, BLEND_MIN, 0.0, 0.0, 0.0, -1.0
    )
    return out


def blended_decisions(metrics: DataFrame) -> DataFrame:
    """metrics: (worker_type, window_start, ws_epoch, t_rel, rate,
    queue_depth) → full-blend decision stream."""
    return metrics.groupBy("worker_type").applyInPandas(
        run_blended_controller, schema=BLEND_SCHEMA
    )


BLEND_STATE_SCHEMA = T.StructType([
    T.StructField("replicas", T.LongType()),
    T.StructField("last_scale", T.DoubleType()),
    T.StructField("integral", T.DoubleType()),
    T.StructField("last_err", T.DoubleType()),
    T.StructField("last_t", T.DoubleType()),
    # trailing regression window, bounded at 6 points by the 120 s
    # cadence — carried so a micro-batch boundary inside a 600 s
    # window does not perturb the predictive leg. Stored as
    # little-endian float64 bytes (bit-exact), not array<double>: an
    # array field makes the state encoder's generated code differ on
    # every trigger, so it would be compiled again each time (see
    # sessionizer.STATE_SCHEMA_DDL)
    T.StructField("hist_t", T.BinaryType()),
    T.StructField("hist_r", T.BinaryType()),
])


def blended_stream_fn(key, pdf_iter, state):
    """Streaming twin: the PID integral/derivative state, the cooldown
    clock, AND the bounded regression history persist in GroupState
    across micro-batches, so any batch split — including a checkpoint
    restart mid-regression-window — reproduces the batch recurrence
    exactly."""
    pdf = pd.concat(list(pdf_iter), ignore_index=True)
    if state.exists:
        (replicas, last_scale, integral, last_err, last_t,
         hist_t, hist_r) = state.get
        hist = list(zip(np.frombuffer(hist_t, dtype="<f8").tolist(),
                        np.frombuffer(hist_r, dtype="<f8").tolist()))
    else:
        replicas, last_scale, integral, last_err, last_t = (
            BLEND_MIN, 0.0, 0.0, 0.0, -1.0
        )
        hist = []
    out, st = blended_controller_step(
        pdf, int(replicas), float(last_scale), float(integral),
        float(last_err), float(last_t), hist
    )
    state.update((int(st[0]), float(st[1]), float(st[2]), float(st[3]),
                  float(st[4]),
                  np.array([h[0] for h in st[5]], dtype="<f8").tobytes(),
                  np.array([h[1] for h in st[5]], dtype="<f8").tobytes()))
    yield out


def blended_stream_decisions(metrics_stream: DataFrame) -> DataFrame:
    return metrics_stream.groupBy("worker_type").applyInPandasWithState(
        blended_stream_fn,
        outputStructType=BLEND_SCHEMA,
        stateStructType=BLEND_STATE_SCHEMA,
        outputMode="append",
        timeoutConf="NoTimeout",
    )
