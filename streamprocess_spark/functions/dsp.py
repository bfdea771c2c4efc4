"""Reference-parity DSP kernels (pure NumPy, no scipy/librosa).

The reference preprocesses audio with scipy/librosa kernels
(src/preprocessing/audio_processor.py): a 4th-order digital
Butterworth high-pass applied zero-phase via filtfilt (:159-180), a
Kaiser-windowed-sinc resampler (librosa.resample, :70-82), and an
STFT spectral-subtraction denoiser at win=2048/hop=512 (:116-157).
Those libraries are not in this container, so this module re-derives
each kernel from the public math:

* Butterworth design — analog prototype poles on the unit circle
  (Butterworth 1930), lowpass→highpass transform, bilinear z-transform
  with frequency prewarp. Produces the same (b, a) coefficients as
  ``scipy.signal.butter(order, wn, 'high')`` (same construction;
  verified against the analytic bilinear-Butterworth magnitude
  response in tests/test_dsp.py).
* filtfilt — odd-extension padding of 3*max(len(a), len(b)) samples
  and steady-state initial conditions (Gustafsson 1996; the scipy
  default behavior), forward+backward pass.
* IIR application — instead of a per-sample Python loop, the filter's
  impulse response is truncated at float64 decay (exact to machine
  precision) and applied by FFT convolution; the initial-state
  contribution is a cached zero-input response.  O(n log n),
  vectorized, numerically identical to the recursion.
* Kaiser-windowed sinc resampling — band-limited interpolation
  (J.O. Smith, "Digital Audio Resampling"), with resampy's public
  ``kaiser_best`` parameters (64 zero-crossings, beta=14.7697,
  rolloff=0.9476).  I0 is evaluated by its power series.
* STFT/iSTFT — hann analysis window, overlap-add synthesis with
  squared-window COLA normalization (the librosa construction).

Everything is driver-checkable: tests/test_dsp.py checks the
closed-form invariants (analytic stopband gain, passband flatness,
tone preservation through resampling), and plans/composites.py folds
the same invariants into the oracle-hashed q_dsp_parity slot.
"""

from __future__ import annotations

import numpy as np

# resampy's public kaiser_best parameters (resampy/filters.py)
KAISER_BEST_ZEROS = 64
KAISER_BEST_BETA = 14.769656459379492
KAISER_BEST_ROLLOFF = 0.9475937167399596


# ---------------------------------------------------------------------------
# Butterworth design (zpk construction + bilinear transform)
# ---------------------------------------------------------------------------

def butter_highpass_ba(order: int, cutoff: float, sr: float):
    """Digital Butterworth high-pass (b, a), the scipy.signal.butter
    construction: prototype poles -> prewarp -> lp2hp -> bilinear."""
    if not 0.0 < cutoff < sr / 2.0:
        raise ValueError(f"cutoff {cutoff} outside (0, {sr / 2})")
    k = np.arange(1, order + 1)
    # analog lowpass prototype: poles at exp(j*pi*(2k+n-1)/(2n)),
    # all strictly in the left half-plane, unit gain
    p = np.exp(1j * np.pi * (2 * k + order - 1) / (2.0 * order))
    gain = 1.0

    # prewarp the digital cutoff onto the analog axis (fs=2 convention)
    warped = 4.0 * np.tan(np.pi * cutoff / sr)

    # lowpass -> highpass: p -> wo/p, n zeros appear at s=0
    p_hp = warped / p
    z_hp = np.zeros(order)
    gain_hp = gain * np.real(1.0 / np.prod(-p))

    # bilinear transform with fs2 = 4 (matches the fs=2 prewarp)
    fs2 = 4.0
    z_b = (fs2 + z_hp) / (fs2 - z_hp)
    p_b = (fs2 + p_hp) / (fs2 - p_hp)
    gain_b = gain_hp * np.real(np.prod(fs2 - z_hp) / np.prod(fs2 - p_hp))

    b = np.real(gain_b * np.poly(z_b))
    a = np.real(np.poly(p_b))
    return b, a


def butter_highpass_gain_sq(order: int, cutoff: float, sr: float,
                            freq: float) -> float:
    """Closed-form |H(e^jw)|^2 of the bilinear-transformed Butterworth
    high-pass — the independent check the design is tested against
    (and the formula the DuckDB oracle evaluates):
    with T = tan(pi f / sr) / tan(pi fc / sr),
    |H|^2 = T^(2n) / (1 + T^(2n))."""
    t = np.tan(np.pi * freq / sr) / np.tan(np.pi * cutoff / sr)
    t2n = float(t) ** (2 * order)
    return t2n / (1.0 + t2n)


def lfilter_zi(b: np.ndarray, a: np.ndarray) -> np.ndarray:
    """Steady-state state vector of the direct-form-II-transposed
    filter for a unit step input (Gustafsson 1996, eq. as in the
    scipy docs): solve (I - A^T) zi = B with A the companion matrix
    of a and B = b[1:] - a[1:] * b[0]."""
    a = np.asarray(a, dtype=np.float64)
    b = np.asarray(b, dtype=np.float64)
    a0 = a[0]
    a = a / a0
    b = b / a0
    n = max(len(a), len(b))
    a = np.concatenate([a, np.zeros(n - len(a))])
    b = np.concatenate([b, np.zeros(n - len(b))])
    companion = np.zeros((n - 1, n - 1))
    companion[0, :] = -a[1:]
    companion[1:, :-1] = np.eye(n - 2)
    i_minus_at = np.eye(n - 1) - companion.T
    rhs = b[1:] - a[1:] * b[0]
    return np.linalg.solve(i_minus_at, rhs)


# cache: (b, a) bytes -> (impulse_response, zi_response, zi)
_FILTER_CACHE: dict[bytes, tuple[np.ndarray, np.ndarray, np.ndarray]] = {}


def _filter_responses(b: np.ndarray, a: np.ndarray):
    """Truncated impulse response and zero-input response from the
    canonical zi state, both to float64 decay — computed once per
    coefficient set by the direct recursion, then reused for every
    FFT-convolution application."""
    key = np.asarray(b).tobytes() + b"|" + np.asarray(a).tobytes()
    hit = _FILTER_CACHE.get(key)
    if hit is not None:
        return hit
    b = np.asarray(b, dtype=np.float64)
    a = np.asarray(a, dtype=np.float64)
    n = max(len(a), len(b))
    bb = np.concatenate([b, np.zeros(n - len(b))]) / a[0]
    aa = np.concatenate([a, np.zeros(n - len(a))]) / a[0]
    zi = lfilter_zi(bb, aa)

    # grow until both responses decay below 1e-18 of their peak
    length = 1024
    while True:
        h_imp = _df2t_run(bb, aa, _unit_impulse(length), np.zeros(n - 1))
        h_zi = _df2t_run(bb, aa, np.zeros(length), zi.copy())
        tail = max(np.max(np.abs(h_imp[-64:])), np.max(np.abs(h_zi[-64:])))
        peak = max(np.max(np.abs(h_imp)), np.max(np.abs(h_zi)), 1e-300)
        if tail <= peak * 1e-18 or length >= (1 << 20):
            break
        length *= 2
    out = (h_imp, h_zi, zi)
    _FILTER_CACHE[key] = out
    return out


def _unit_impulse(n: int) -> np.ndarray:
    x = np.zeros(n)
    x[0] = 1.0
    return x


def _df2t_run(b: np.ndarray, a: np.ndarray, x: np.ndarray,
              state: np.ndarray) -> np.ndarray:
    """Direct-form II transposed recursion — only ever run on short
    cached-response builds, never per data sample."""
    y = np.empty_like(x)
    z = state
    for i in range(len(x)):
        xi = x[i]
        yi = b[0] * xi + z[0]
        z[:-1] = z[1:]
        z[-1] = 0.0
        z += b[1:] * xi - a[1:] * yi
        y[i] = yi
    return y


def np_lfilter(b: np.ndarray, a: np.ndarray, x: np.ndarray,
               zi_scale: float = 0.0) -> np.ndarray:
    """lfilter(b, a, x, zi=lfilter_zi(b,a)*zi_scale) via cached
    truncated responses + FFT convolution (exact to float64 decay)."""
    h_imp, h_zi, _ = _filter_responses(b, a)
    n = len(x)
    m = min(len(h_imp), n)
    full = np.fft.irfft(
        np.fft.rfft(x, n + m) * np.fft.rfft(h_imp[:m], n + m), n + m
    )
    y = full[:n]
    if zi_scale != 0.0:
        m_zi = min(len(h_zi), n)  # past the cache length h_zi ~ 0
        y[:m_zi] = y[:m_zi] + zi_scale * h_zi[:m_zi]
    return y


def np_filtfilt(b: np.ndarray, a: np.ndarray, x: np.ndarray) -> np.ndarray:
    """Zero-phase filtering, the scipy.signal.filtfilt default recipe:
    odd-extend by padlen = 3*max(len(a), len(b)), filter forward with
    zi*x[0] initial state, reverse, filter again, reverse, trim."""
    x = np.asarray(x, dtype=np.float64)
    padlen = 3 * max(len(a), len(b))
    if len(x) <= padlen:
        raise ValueError(
            f"input length {len(x)} must exceed padlen {padlen}"
        )
    ext = np.concatenate([
        2.0 * x[0] - x[padlen:0:-1],
        x,
        2.0 * x[-1] - x[-2:-padlen - 2:-1],
    ])
    y = np_lfilter(b, a, ext, zi_scale=ext[0])
    y = y[::-1]
    y = np_lfilter(b, a, y, zi_scale=y[0])
    y = y[::-1]
    return y[padlen:-padlen]


def np_butter_highpass_filtfilt(x: np.ndarray, cutoff: float = 80.0,
                                sr: float = 16000.0,
                                order: int = 4) -> np.ndarray:
    """F5 parity kernel: scipy.signal.butter(4, wn, 'high') +
    filtfilt (audio_processor.py:159-180). Inputs too short for the
    filtfilt padding return unchanged — the reference wraps the call
    in try/except and falls back to the input on error."""
    if len(x) <= 3 * (order + 1):
        return np.asarray(x, dtype=np.float32)
    b, a = butter_highpass_ba(order, cutoff, sr)
    return np_filtfilt(b, a, x).astype(np.float32)


# ---------------------------------------------------------------------------
# Kaiser-windowed sinc resampling
# ---------------------------------------------------------------------------

def np_i0(x: np.ndarray) -> np.ndarray:
    """Modified Bessel I0 by its power series sum_k ((x/2)^2k / k!^2);
    converges to float64 precision in <60 terms for |x| <= 20 (the
    Kaiser betas used here are ~15)."""
    x = np.asarray(x, dtype=np.float64)
    q = (x / 2.0) ** 2
    term = np.ones_like(q)
    acc = np.ones_like(q)
    for k in range(1, 64):
        term = term * q / (k * k)
        acc = acc + term
        if np.max(term) < 1e-18 * np.max(acc):
            break
    return acc


def np_kaiser_window(t: np.ndarray, beta: float) -> np.ndarray:
    """Kaiser window on support t in [-1, 1] (0 outside)."""
    inside = np.abs(t) <= 1.0
    w = np.zeros_like(t, dtype=np.float64)
    w[inside] = np_i0(beta * np.sqrt(1.0 - t[inside] ** 2)) / np_i0(
        np.array([beta])
    )[0]
    return w


# cache: (num_zeros, beta, rolloff, density) -> half-filter table
_SINC_TABLE_CACHE: dict[tuple, np.ndarray] = {}
_SINC_DENSITY = 512  # table samples per zero crossing (resampy-style)


def _sinc_table(num_zeros: int, beta: float, rolloff: float) -> np.ndarray:
    """Right half of the Kaiser-windowed sinc, sampled at _SINC_DENSITY
    points per zero crossing; taps are linearly interpolated from it
    (the resampy construction — interp error O(density^-2) ~ 4e-6)."""
    key = (num_zeros, beta, rolloff, _SINC_DENSITY)
    hit = _SINC_TABLE_CACHE.get(key)
    if hit is None:
        # u = rolloff * delta_scaled sampled on [0, num_zeros]
        d = np.arange(num_zeros * _SINC_DENSITY + 2, dtype=np.float64) / (
            _SINC_DENSITY
        )
        hit = (
            np_kaiser_window(d / num_zeros, beta)
            * np.sinc(rolloff * d)
            * rolloff
        )
        hit[-1] = 0.0  # guard entry past the window edge
        _SINC_TABLE_CACHE[key] = hit
    return hit


def np_kaiser_phase_taps(orig_sr: int, target_sr: int,
                         num_zeros: int = KAISER_BEST_ZEROS,
                         beta: float = KAISER_BEST_BETA,
                         rolloff: float = KAISER_BEST_ROLLOFF,
                         ) -> tuple[int, int, int, list[np.ndarray]]:
    """Polyphase filter bank of ``np_resample_kaiser``: the reduced
    ratio p/q, the filter half-width, and the p tap vectors (one per
    output phase) over input offsets -half..half. Taps are linearly
    interpolated from the dense windowed-sinc table (the resampy
    construction)."""
    from math import gcd

    g = gcd(int(target_sr), int(orig_sr))
    p, q = int(target_sr) // g, int(orig_sr) // g  # ratio = p/q reduced
    scale = min(1.0, p / q)  # shrink the filter when downsampling
    table = _sinc_table(num_zeros, beta, rolloff)
    half = int(np.ceil(num_zeros / scale)) + 1
    offs = np.arange(-half, half + 1, dtype=np.float64)

    def taps_for(frac: float) -> np.ndarray:
        """Windowed-sinc taps at fractional input offset `frac`."""
        pos = np.abs(offs - frac) * scale * _SINC_DENSITY
        i0 = pos.astype(np.int64)
        oob = i0 >= len(table) - 1
        i0[oob] = len(table) - 2
        fr = pos - i0
        t = (table[i0] * (1.0 - fr) + table[i0 + 1] * fr) * scale
        t[oob] = 0.0
        return t

    # output i = k*p + ph sits at input time k*q + ph*q/p
    return p, q, half, [taps_for((ph * q % p) / p) for ph in range(p)]


def np_resample_kaiser(x: np.ndarray, orig_sr: int, target_sr: int,
                       num_zeros: int = KAISER_BEST_ZEROS,
                       beta: float = KAISER_BEST_BETA,
                       rolloff: float = KAISER_BEST_ROLLOFF) -> np.ndarray:
    """F1 parity kernel: band-limited sinc interpolation with a Kaiser
    window — the librosa/resampy kaiser_best algorithm family
    (audio_processor.py:70-82 calls librosa.resample). Output length
    follows the librosa convention ceil(n * target / orig). Taps come
    from ``np_kaiser_phase_taps``. Fully vectorized; memory is bounded by
    blocking over output samples."""
    x = np.asarray(x, dtype=np.float64)
    if orig_sr == target_sr or len(x) == 0:
        return x.astype(np.float32)
    p, q, half, taps = np_kaiser_phase_taps(orig_sr, target_sr, num_zeros,
                                            beta, rolloff)
    n_out = int(np.ceil(len(x) * p / q))
    # polyphase: each of the p phases has ONE tap vector; its
    # application is a BLAS matvec over a zero-copy strided view of the
    # padded input.
    xp = np.concatenate([
        np.zeros(half), x, np.zeros(half + q + 1)
    ])
    out = np.empty(n_out, dtype=np.float64)
    for ph, c in enumerate(taps):
        base = ph * q // p
        n_k = (n_out - ph + p - 1) // p
        if n_k <= 0:
            continue
        view = np.lib.stride_tricks.as_strided(
            xp[base:],  # window start: base - half + half(pad) = base
            shape=(n_k, len(c)),
            strides=(q * xp.strides[0], xp.strides[0]),
        )
        out[ph::p] = view @ c
    return out.astype(np.float32)


# ---------------------------------------------------------------------------
# STFT / iSTFT (hann, COLA overlap-add) for spectral subtraction
# ---------------------------------------------------------------------------

def _hann(n: int) -> np.ndarray:
    return 0.5 - 0.5 * np.cos(2.0 * np.pi * np.arange(n) / n)


def np_stft(x: np.ndarray, n_fft: int = 2048, hop: int = 512) -> np.ndarray:
    """Centered STFT (librosa layout: zero pad n_fft//2 both sides,
    hann window, frames in columns)."""
    x = np.asarray(x, dtype=np.float64)
    pad = n_fft // 2
    xp = np.concatenate([np.zeros(pad), x, np.zeros(pad)])
    n_frames = 1 + (len(xp) - n_fft) // hop
    strides = (xp.strides[0], hop * xp.strides[0])
    frames = np.lib.stride_tricks.as_strided(
        xp, shape=(n_fft, n_frames), strides=strides
    )
    return np.fft.rfft(frames * _hann(n_fft)[:, None], axis=0)


def np_istft(spec: np.ndarray, n_fft: int = 2048, hop: int = 512,
             length: int | None = None) -> np.ndarray:
    """Inverse STFT by windowed overlap-add with squared-hann COLA
    normalization (the librosa.istft construction)."""
    n_frames = spec.shape[1]
    win = _hann(n_fft)
    total = n_fft + hop * (n_frames - 1)
    out = np.zeros(total)
    norm = np.zeros(total)
    frames = np.fft.irfft(spec, n=n_fft, axis=0)
    for i in range(n_frames):
        sl = slice(i * hop, i * hop + n_fft)
        out[sl] += frames[:, i] * win
        norm[sl] += win * win
    nz = norm > 1e-12
    out[nz] /= norm[nz]
    pad = n_fft // 2
    out = out[pad:]
    if length is not None:
        out = np.resize(out, length) if len(out) < length else out[:length]
    return out


def np_spectral_subtract(x: np.ndarray, sr: int = 16000,
                         alpha: float = 2.0, beta: float = 0.01,
                         n_fft: int = 2048, hop: int = 512) -> np.ndarray:
    """F4 parity kernel: the reference's spectral subtraction at its
    real STFT geometry (audio_processor.py:116-157): noise spectrum
    from the first min(0.5 s, len/4) samples, subtract alpha*noise,
    floor at beta*magnitude, resynthesize with the original phase,
    np.resize back to the input length. Inputs whose noise window is
    under 1024 samples are returned unchanged (the reference's gate)."""
    x = np.asarray(x, dtype=np.float64)
    noise_len = min(int(0.5 * sr), len(x) // 4)
    if noise_len < 1024:
        return x.astype(np.float32)
    spec = np_stft(x, n_fft, hop)
    mag = np.abs(spec)
    phase = np.angle(spec)
    noise_mag = np.abs(np_stft(x[:noise_len], n_fft, hop)).mean(
        axis=1, keepdims=True
    )
    clean = np.maximum(mag - alpha * noise_mag, beta * mag)
    y = np_istft(clean * np.exp(1j * phase), n_fft, hop, length=len(x))
    return y.astype(np.float32)


# ---------------------------------------------------------------------------
# FFT (trigonometric-interpolant) resampling — the reference's
# scipy.signal.resample fallback path (audio_processor.py:80-82)
# ---------------------------------------------------------------------------

def np_resample_fft(x: np.ndarray, num: int) -> np.ndarray:
    """Resample to exactly ``num`` samples by evaluating the signal's
    trigonometric interpolant on the new grid — the
    scipy.signal.resample algorithm (spectrum truncation/zero-padding
    in the rfft domain, with the even-length Nyquist-bin split).
    Verified against direct interpolant evaluation in tests/test_dsp.py.

    The reference hits this path as a fallback when librosa fails
    (audio_processor.py:80-82: num = int(len(x) * target / orig))."""
    x = np.asarray(x, dtype=np.float64)
    n = len(x)
    if num == n or n == 0:
        return x.astype(np.float32)
    sp = np.fft.rfft(x)
    y = np.zeros(num // 2 + 1, dtype=np.complex128)
    nkeep = min(num, n)
    nyq = nkeep // 2 + 1
    y[:nyq] = sp[:nyq]
    if nkeep % 2 == 0:
        if num < n:
            # the old bin at the new Nyquist and its conjugate mirror
            # alias together: the cos coefficient doubles, sin cancels
            y[nkeep // 2] = 2.0 * sp[nkeep // 2].real
        else:
            # the old pure-cos Nyquist bin splits into +/- complex
            # exponentials; in the longer spectrum it carries half
            y[nkeep // 2] *= 0.5
    return (np.fft.irfft(y, num) * (num / n)).astype(np.float32)


# ---------------------------------------------------------------------------
# librosa-construction frame features + MFCC (F8 parity,
# audio_processor.py:384-420). Beat tracking follows below (Ellis
# 2007 DP — the published algorithm librosa.beat.beat_track builds on).
# ---------------------------------------------------------------------------

def _hz_to_mel_slaney(f: np.ndarray) -> np.ndarray:
    """Slaney's auditory-toolbox mel scale (librosa default htk=False):
    linear below 1 kHz, logarithmic above with step 27/ln(6.4)."""
    f = np.asarray(f, dtype=np.float64)
    mel = f / (200.0 / 3.0)
    log_region = f >= 1000.0
    mel = np.where(
        log_region,
        15.0 + np.log(np.maximum(f, 1e-300) / 1000.0) / (np.log(6.4) / 27.0),
        mel,
    )
    return mel


def _mel_to_hz_slaney(m: np.ndarray) -> np.ndarray:
    m = np.asarray(m, dtype=np.float64)
    f = m * (200.0 / 3.0)
    log_region = m >= 15.0
    f = np.where(log_region, 1000.0 * np.exp((np.log(6.4) / 27.0) * (m - 15.0)), f)
    return f


def np_mel_filterbank(sr: int, n_fft: int, n_mels: int = 128,
                      fmin: float = 0.0,
                      fmax: float | None = None) -> np.ndarray:
    """The librosa.filters.mel construction (Slaney scale, 'slaney'
    area normalization): n_mels triangular filters over the rfft bins."""
    fmax = fmax if fmax is not None else sr / 2.0
    n_bins = n_fft // 2 + 1
    freqs = np.linspace(0.0, sr / 2.0, n_bins)
    mel_pts = np.linspace(
        _hz_to_mel_slaney(np.array([fmin]))[0],
        _hz_to_mel_slaney(np.array([fmax]))[0],
        n_mels + 2,
    )
    hz_pts = _mel_to_hz_slaney(mel_pts)
    fb = np.zeros((n_mels, n_bins))
    for m in range(n_mels):
        lo, ctr, hi = hz_pts[m], hz_pts[m + 1], hz_pts[m + 2]
        up = (freqs - lo) / max(ctr - lo, 1e-12)
        down = (hi - freqs) / max(hi - ctr, 1e-12)
        fb[m] = np.maximum(0.0, np.minimum(up, down))
        fb[m] *= 2.0 / (hi - lo)  # slaney area norm
    return fb


def _dct_ortho(x: np.ndarray, n_out: int) -> np.ndarray:
    """Type-II DCT with 'ortho' normalization along axis 0 (the
    scipy.fftpack.dct(type=2, norm='ortho') used by librosa.mfcc),
    returning the first n_out coefficients."""
    n = x.shape[0]
    k = np.arange(n_out)[:, None]
    i = np.arange(n)[None, :]
    basis = np.cos(np.pi * k * (2 * i + 1) / (2.0 * n))
    scale = np.full((n_out, 1), np.sqrt(2.0 / n))
    scale[0, 0] = np.sqrt(1.0 / n)
    return (basis @ x) * scale


def np_power_to_db(s: np.ndarray, amin: float = 1e-10,
                   top_db: float = 80.0) -> np.ndarray:
    """librosa.power_to_db with ref=1.0: 10*log10(max(amin, S)),
    floored at (max - top_db)."""
    db = 10.0 * np.log10(np.maximum(amin, s))
    return np.maximum(db, db.max() - top_db)


def np_mfcc(x: np.ndarray, sr: int = 16000, n_mfcc: int = 13,
            n_fft: int = 2048, hop: int = 512,
            n_mels: int = 128) -> np.ndarray:
    """F8 parity kernel: librosa.feature.mfcc defaults — hann STFT
    2048/512 (centered), power mel spectrogram over the Slaney
    filterbank, power_to_db (ref=1, top_db=80), DCT-II ortho, first
    n_mfcc rows. Shape (n_mfcc, 1 + len(x)//hop)."""
    spec = np.abs(np_stft(x, n_fft, hop)) ** 2
    mel = np_mel_filterbank(sr, n_fft, n_mels) @ spec
    return _dct_ortho(np_power_to_db(mel), n_mfcc)


def np_frame_features(x: np.ndarray, sr: int = 16000, n_fft: int = 2048,
                      hop: int = 512) -> dict[str, np.ndarray]:
    """F8 parity kernels: the per-frame librosa.feature family the
    reference stacks next to MFCC (audio_processor.py:396-410) —
    spectral centroid, p=2 spectral bandwidth, 85% rolloff, per-frame
    zero-crossing rate and RMS, all on the centered hann STFT frame
    grid (frame_length=n_fft, hop=512)."""
    x = np.asarray(x, dtype=np.float64)
    mag = np.abs(np_stft(x, n_fft, hop))
    freqs = np.linspace(0.0, sr / 2.0, n_fft // 2 + 1)[:, None]
    norm = mag.sum(axis=0, keepdims=True) + 1e-300
    centroid = (freqs * mag).sum(axis=0, keepdims=True) / norm
    bandwidth = np.sqrt(
        ((freqs - centroid) ** 2 * mag).sum(axis=0, keepdims=True) / norm
    )
    cum = np.cumsum(mag, axis=0)
    thresh = 0.85 * cum[-1:, :]
    roll_idx = (cum < thresh).sum(axis=0)
    rolloff = freqs[np.minimum(roll_idx, len(freqs) - 1), 0]

    # zcr / rms over centered frames of the raw signal
    pad = n_fft // 2
    xp_e = np.pad(x, pad, mode="edge")       # librosa zcr pad: edge
    xp_c = np.pad(x, pad, mode="constant")   # librosa rms pad: zeros
    n_frames = mag.shape[1]
    zcr = np.empty(n_frames)
    rms = np.empty(n_frames)
    # librosa zero_crossing_rate: samples within 1e-10 of zero are
    # clipped to +0 before the sign comparison, and the crossing count
    # is divided by frame_length (not the n_fft-1 comparison slots)
    xe_clipped = np.where(np.abs(xp_e) < 1e-10, 0.0, xp_e)
    for i in range(n_frames):
        fe = xe_clipped[i * hop:i * hop + n_fft]
        fc = xp_c[i * hop:i * hop + n_fft]
        sign = np.signbit(fe)
        zcr[i] = np.count_nonzero(sign[1:] != sign[:-1]) / n_fft
        rms[i] = np.sqrt(np.mean(fc * fc))
    return {
        "centroid": centroid[0],
        "bandwidth": bandwidth[0],
        "rolloff": rolloff,
        "zcr": zcr,
        "rms": rms,
    }


# ---------------------------------------------------------------------------
# Beat tracking (the last F8 output): the Ellis dynamic-programming
# beat tracker (D. Ellis, "Beat Tracking by Dynamic Programming",
# J. New Music Research 2007) — the published algorithm behind
# librosa.beat.beat_track. Spectral-flux onset envelope over the mel
# spectrogram, autocorrelation tempo with a log-normal prior at
# 120 BPM, then the DP recurrence with tightness 100.
# ---------------------------------------------------------------------------

def np_onset_strength(x: np.ndarray, sr: int = 16000, n_fft: int = 2048,
                      hop: int = 512) -> np.ndarray:
    """Spectral-flux onset envelope: positive first difference of the
    dB mel spectrogram, averaged over mel bands (the
    librosa.onset.onset_strength construction)."""
    spec = np.abs(np_stft(x, n_fft, hop)) ** 2
    mel_db = np_power_to_db(np_mel_filterbank(sr, n_fft) @ spec)
    flux = np.maximum(0.0, np.diff(mel_db, axis=1))
    env = flux.mean(axis=0)
    return np.concatenate([[0.0], env])


def np_tempo_estimate(onset_env: np.ndarray, sr: int = 16000,
                      hop: int = 512, start_bpm: float = 120.0,
                      std_bpm: float = 1.0) -> float:
    """Tempo from the onset autocorrelation, weighted by a log-normal
    prior around start_bpm (the librosa.feature.rhythm construction)."""
    n = len(onset_env)
    if n < 4:
        return start_bpm
    env = onset_env - onset_env.mean()
    ac = np.correlate(env, env, mode="full")[n - 1:]
    ac = np.maximum(ac, 0.0)
    fps = sr / hop
    lags = np.arange(1, n)
    bpms = 60.0 * fps / lags
    prior = np.exp(-0.5 * ((np.log2(bpms / start_bpm)) / std_bpm) ** 2)
    weighted = ac[1:] * prior
    if not np.any(weighted > 0):
        return start_bpm
    return float(bpms[int(np.argmax(weighted))])


def np_beat_track(x: np.ndarray, sr: int = 16000, hop: int = 512,
                  tightness: float = 100.0) -> tuple[float, np.ndarray]:
    """F8 beat tracking: returns (tempo_bpm, beat frame indices).
    Ellis 2007 DP: cumulative score C(t) = O(t) + max_p [C(p) -
    tightness * (log((t-p)/period))^2] over a window of candidate
    predecessors, then backtrack from the best final beat."""
    onset_env = np_onset_strength(x, sr=sr, hop=hop)
    n = len(onset_env)
    if n == 0 or not np.any(onset_env > 0):
        return 0.0, np.zeros(0, dtype=np.int64)
    tempo = np_tempo_estimate(onset_env, sr=sr, hop=hop)
    fps = sr / hop
    period = max(1, int(round(60.0 * fps / tempo)))

    # normalize the envelope (Ellis: divide by its std)
    env = onset_env / (onset_env.std() + 1e-10)
    score = np.zeros(n)
    backlink = np.full(n, -1, dtype=np.int64)
    lo, hi = max(1, period // 2), min(n - 1, 2 * period)
    taus = np.arange(lo, hi + 1)
    penalty = -tightness * (np.log(taus / period)) ** 2
    for t in range(lo, n):
        window = t - taus
        valid = window >= 0
        if not np.any(valid):
            score[t] = env[t]
            continue
        cand = score[window[valid]] + penalty[valid]
        best = int(np.argmax(cand))
        score[t] = env[t] + cand[best]
        backlink[t] = window[valid][best]

    # backtrack from the best scoring position near the end
    tail_start = max(0, n - period)
    t = tail_start + int(np.argmax(score[tail_start:]))
    beats = [t]
    while backlink[t] >= 0:
        t = int(backlink[t])
        beats.append(t)
    beats = np.array(beats[::-1], dtype=np.int64)
    return tempo, beats
