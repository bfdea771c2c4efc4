"""Property-based invariants (hypothesis) for the scalar-function
cores — the randomized strengthening of the reference's fixed-fixture
assertions (tests/unit/test_preprocessing.py)."""

from __future__ import annotations

import numpy as np
from hypothesis import example, given, settings
from hypothesis import strategies as st

from streamprocess_spark.functions import audio as A
from streamprocess_spark.functions import image as I

float_arrays = st.lists(
    st.floats(min_value=-1.0, max_value=1.0, allow_nan=False, width=32),
    min_size=0, max_size=2000,
).map(lambda xs: np.asarray(xs, dtype=np.float32))

small_images = st.tuples(
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=1, max_value=40),
    st.integers(min_value=0, max_value=2**32 - 1),
).map(
    lambda t: np.random.default_rng(t[2]).integers(
        0, 256, size=(t[0], t[1]), dtype=np.uint8
    )
)


@settings(max_examples=50, deadline=None)
@given(float_arrays)
def test_normalize_never_exceeds_unit(x):
    y = A.np_normalize(x)
    assert len(y) == len(x)
    if len(y):
        assert np.max(np.abs(y)) <= 1.0


@settings(max_examples=50, deadline=None)
@given(float_arrays, st.sampled_from([8000, 16000, 44100]),
       st.sampled_from([8000, 16000, 44100]))
def test_resample_length_formula(x, orig, target):
    y = A.np_resample(x, orig, target)
    if orig == target or len(x) == 0:
        assert len(y) == len(x)
    else:
        assert len(y) == int(round(len(x) * target / orig))
    assert y.dtype == np.float32


@settings(max_examples=50, deadline=None)
@given(float_arrays)
def test_decode_encode_roundtrip_error_bound(x):
    back = A.np_decode_linear16(A.np_encode_linear16(x))
    assert len(back) == len(x)
    if len(x):
        # encode truncates toward zero (1/32767) and scales by 32767
        # while decode divides by 32768 (1/32768) -> bound ~2.1/32768
        assert np.max(np.abs(back - np.clip(x, -1.0, 1.0))) <= 2.5 / 32768.0


@settings(max_examples=50, deadline=None)
@given(float_arrays, st.integers(min_value=1, max_value=4))
def test_to_mono_length(x, ch):
    y = A.np_to_mono(x, ch)
    assert len(y) == (len(x) if ch <= 1 else len(x) // ch)


@settings(max_examples=50, deadline=None)
@given(float_arrays)
def test_vad_flag_count(x):
    flags = A.np_vad_flags(x, sr=16000, frame_ms=30)
    assert len(flags) == len(x) // 480


@settings(max_examples=50, deadline=None)
@given(float_arrays)
def test_agc_bounded(x):
    y = A.np_agc(x)
    assert len(y) == len(x)
    if len(y):
        assert np.max(np.abs(y)) <= 1.0


@settings(max_examples=50, deadline=None)
@given(small_images, st.sampled_from(["otsu", "adaptive", "fixed"]))
def test_binarize_domain_any_image(img, method):
    out = I.np_binarize(img, method=method)
    assert out.shape == img.shape
    assert set(np.unique(out)) <= {0, 255}


@settings(max_examples=50, deadline=None)
@given(small_images)
def test_crop_preserves_content(img):
    cropped = I.np_crop_to_content(img, padding=2)
    assert (cropped < I.WHITE).sum() == (img < I.WHITE).sum()
    assert cropped.shape[0] <= img.shape[0]
    assert cropped.shape[1] <= img.shape[1]


@settings(max_examples=50, deadline=None)
@given(small_images)
def test_layout_boxes_in_bounds_and_sorted(img):
    elems = I.np_detect_layout(img, min_area=1)
    h, w = img.shape
    for e in elems:
        assert 0 <= e["x"] < w and 0 <= e["y"] < h
        assert e["x"] + e["width"] <= w
        assert e["y"] + e["height"] <= h
    keys = [(e["y"], e["x"]) for e in elems]
    assert keys == sorted(keys)


@settings(max_examples=50, deadline=None)
@given(st.lists(
    st.tuples(st.floats(0, 1000, allow_nan=False),
              st.floats(0, 1000, allow_nan=False)),
    min_size=3, max_size=8,
))
def test_bbox_contains_all_points(pts):
    x, y, w, h = I.np_bbox_from_quad(pts)
    for px, py in pts:
        assert x <= px and y <= py
        # int truncation: the box extends to int(max) on each axis
        assert px <= x + w + 1 and py <= y + h + 1


# ------------------------------------------------ container codecs

u8_images = st.integers(min_value=1, max_value=40).flatmap(
    lambda h: st.integers(min_value=1, max_value=40).flatmap(
        lambda w: st.binary(min_size=h * w, max_size=h * w).map(
            lambda b: np.frombuffer(b, dtype=np.uint8).reshape(h, w)
        )
    )
)


@settings(max_examples=40, deadline=None)
@given(u8_images)
def test_png_roundtrip_lossless(img):
    assert np.array_equal(I.np_decode_png(I.np_encode_png(img)), img)


@settings(max_examples=40, deadline=None)
@given(u8_images)
def test_bmp_roundtrip_lossless(img):
    assert np.array_equal(I.np_decode_bmp(I.np_encode_bmp(img)), img)


@settings(max_examples=40, deadline=None)
@given(float_arrays, st.sampled_from([8000, 16000, 44100]),
       st.integers(min_value=1, max_value=2))
def test_wav_roundtrip_preserves_rate_and_samples(x, sr, ch):
    n = len(x) // ch * ch
    if n == 0:
        return
    raw = A.np_build_wav(A.np_encode_linear16(x[:n]), sr=sr, channels=ch)
    y, sr2, ch2 = A.np_parse_wav(raw)
    assert (sr2, ch2, len(y)) == (sr, ch, n)
    assert np.allclose(y, np.clip(x[:n], -1, 1), atol=2 / 32768.0)


@settings(max_examples=40, deadline=None)
@given(float_arrays)
def test_mulaw_roundtrip_companding_bound(x):
    """µ-law is logarithmic 8-bit: relative error bounded, absolute
    error <= ~1/16 of magnitude + smallest step."""
    y = A.np_decode_mulaw(A.np_encode_mulaw(x))
    assert len(y) == len(x)
    xc = np.clip(x, -1.0, 1.0)
    assert np.all(np.abs(y - xc) <= np.abs(xc) / 16.0 + 0.01)


@settings(max_examples=40, deadline=None)
@given(st.binary(min_size=0, max_size=512))
def test_g711_decoders_total_on_any_bytes(raw):
    """Every byte string is a valid G.711 stream (8-bit codes are
    total) — decoders must never raise and stay in [-1, 1]."""
    for dec in (A.np_decode_mulaw, A.np_decode_alaw):
        y = dec(raw)
        assert len(y) == len(raw)
        if len(y):
            assert float(np.max(np.abs(y))) <= 1.0


# --------------------------------------------------------- FLAC (S15)

int16_arrays = st.lists(
    st.integers(min_value=-32768, max_value=32767), min_size=1, max_size=3000
).map(lambda v: np.array(v, dtype=np.int16))


@settings(max_examples=30, deadline=None)
@given(int16_arrays, st.sampled_from([64, 256, 512, 4096]))
def test_flac_roundtrip_lossless_any_signal(x, bs):
    """FLAC is lossless for EVERY int16 signal and block size — the
    property the exact integer-sum oracle (q100) rests on."""
    from streamprocess_spark.functions import flac as FL

    enc = FL.np_encode_flac(x, sr=16000, block_size=bs)
    y, sr, ch = FL.np_decode_flac(enc)
    assert (sr, ch) == (16000, 1)
    assert np.array_equal(np.round(y * 32768.0).astype(np.int64), x.astype(np.int64))


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=0, max_value=2**35))
def test_flac_utf8_frame_number_roundtrip(n):
    from streamprocess_spark.functions import flac as FL

    enc = FL._utf8_encode_number(n)
    rd = FL._BitReader(enc)
    assert FL._utf8_decode_number(rd) == n


# --------------------------------------------------------- JPEG (S15)

@settings(max_examples=20, deadline=None)
@given(
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=1, max_value=6),
    st.integers(min_value=0, max_value=10**6),
)
def test_jpeg_constant_blocks_bit_exact_any_grid(nbx, nby, seed):
    """Constant 8x8 blocks with even (v-128) survive quality-50
    quantization exactly, for any block grid — the q101 oracle
    premise."""
    from streamprocess_spark.functions import jpeg as J

    vals = 128 + 2 * (((seed + np.arange(nbx * nby)) * 13) % 61 - 30)
    img = np.repeat(
        np.repeat(vals.reshape(nby, nbx).astype(np.uint8), 8, axis=0), 8, axis=1
    )
    dec = J.np_decode_jpeg_gray(J.np_encode_jpeg_gray(img, quality=50))
    assert np.array_equal(dec, img)


@settings(max_examples=15, deadline=None)
@given(
    st.integers(min_value=8, max_value=64),
    st.integers(min_value=8, max_value=64),
    st.integers(min_value=0, max_value=2**31),
)
def test_jpeg_decode_total_and_bounded_on_random_images(h, w, seed):
    """Any uint8 image encodes/decodes with bounded error at q90 (the
    quantization floor), shape preserved, values in range."""
    from streamprocess_spark.functions import jpeg as J

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (h, w)).astype(np.uint8)
    dec = J.np_decode_jpeg_gray(J.np_encode_jpeg_gray(img, quality=90))
    assert dec.shape == (h, w) and dec.dtype == np.uint8


# ---------------------------------------------------- z-order (q109)

@settings(max_examples=50, deadline=None)
@given(st.integers(min_value=0, max_value=255), st.integers(min_value=0, max_value=255))
def test_zorder_prefix_bounds_both_dims(a, b):
    """Fixing the top 2k bits of a Morton code bounds BOTH coordinates
    to 2^(8-k) ranges — the pruning property q109 measures."""
    z = 0
    for i in range(8):
        z |= ((a >> i) & 1) << (2 * i + 1)
        z |= ((b >> i) & 1) << (2 * i)
    zfile = z >> 12          # top 4 z bits: a7, b7, a6, b6
    want = (
        ((a >> 7) & 1) * 8 + ((b >> 7) & 1) * 4
        + ((a >> 6) & 1) * 2 + ((b >> 6) & 1)
    )
    assert zfile == want
    # same file ⟺ both dims share their top-2-bit bucket


# --------------------------------- codec totality under corruption

@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31),
    st.integers(min_value=1, max_value=6),
)
def test_flac_decoder_total_under_mutation(seed, n_flips):
    """Any byte corruption of a valid stream either still decodes or
    raises ValueError — never an unhandled exception or a hang (the
    dead-letter path of io/ingest.py depends on this)."""
    from streamprocess_spark.functions import flac as FL

    rng = np.random.default_rng(seed)
    x = rng.integers(-5000, 5000, 400).astype(np.int16)
    enc = bytearray(FL.np_encode_flac(x, block_size=128))
    for _ in range(n_flips):
        enc[rng.integers(0, len(enc))] ^= int(rng.integers(1, 256))
    try:
        y, sr, ch = FL.np_decode_flac(bytes(enc))
        assert len(y) <= len(x) and ch >= 1
    except (ValueError, NotImplementedError):
        pass


@settings(max_examples=40, deadline=None)
@given(
    st.integers(min_value=0, max_value=2**31),
    st.integers(min_value=1, max_value=6),
)
def test_jpeg_decoder_total_under_mutation(seed, n_flips):
    from streamprocess_spark.functions import jpeg as J

    rng = np.random.default_rng(seed)
    img = rng.integers(0, 256, (24, 24)).astype(np.uint8)
    enc = bytearray(J.np_encode_jpeg_gray(img, quality=80))
    for _ in range(n_flips):
        enc[rng.integers(0, len(enc))] ^= int(rng.integers(1, 256))
    try:
        dec = J.np_decode_jpeg_gray(bytes(enc))
        assert dec.dtype == np.uint8
    except (ValueError, NotImplementedError):
        # exactly the exceptions io/ingest.py's dead-letter boundary
        # catches — anything else would crash the ingest task
        pass


# ------------------------------------------------------------ dsp parity

from streamprocess_spark.functions import dsp  # noqa: E402


@settings(max_examples=30, deadline=None)
@given(float_arrays, st.sampled_from([8000, 16000, 44100, 48000]),
       st.sampled_from([8000, 16000, 44100, 48000]))
# a 2-sample pulse at the end, upsampled 2x: its band-limited midpoint
# is 4/pi ~ 1.273, above any fixed 1.2 overshoot bound
@example(np.r_[np.zeros(62), 1.0, 1.0].astype(np.float32), 8000, 16000)
def test_kaiser_resample_length_and_bound(x, orig, target):
    y = dsp.np_resample_kaiser(x, orig, target)
    assert np.isfinite(y).all()
    if orig == target or len(x) == 0:
        assert len(y) == len(x)
        return
    assert len(y) == int(np.ceil(len(x) * target / orig))
    p, q, half, taps = dsp.np_kaiser_phase_taps(orig, target)
    # each output sample is one phase's taps dotted with the input, so
    # its magnitude is at most max|x| times that phase's sum of |taps|
    gain = max(np.abs(c).sum() for c in taps)
    assert np.max(np.abs(y)) <= np.max(np.abs(x)) * gain * (1 + 1e-6)
    # unit DC gain: a constant comes back unchanged at every output
    # whose filter window lies wholly inside the signal
    n = len(x) + 2 * half + q
    yc = dsp.np_resample_kaiser(np.full(n, 0.5, np.float32), orig, target)
    base = np.arange(len(yc)) * q // p
    inner = yc[(base >= half) & (base + half <= n - 1)]
    assert len(inner) and np.abs(inner - 0.5).max() <= 1e-5


@settings(max_examples=30, deadline=None)
@given(float_arrays)
def test_filtfilt_linear_in_input(x):
    if len(x) <= 15:
        return
    y1 = dsp.np_butter_highpass_filtfilt(x.astype(np.float64))
    y2 = dsp.np_butter_highpass_filtfilt(2.0 * x.astype(np.float64))
    # LTI: doubling the input doubles the output
    assert np.max(np.abs(y2 - 2.0 * y1)) < 1e-4
    assert len(y1) == len(x)


@settings(max_examples=30, deadline=None)
@given(st.integers(min_value=1, max_value=200),
       st.integers(min_value=1, max_value=300))
def test_fft_resample_constant_preserved(n, m):
    # the trig interpolant of a constant is that constant at any grid
    y = dsp.np_resample_fft(np.full(n, 0.5), m)
    assert len(y) == m
    assert np.max(np.abs(y - 0.5)) < 1e-5


@settings(max_examples=25, deadline=None)
@given(small_images)
def test_clahe_range_shape_dtype(img):
    out = I.np_clahe(img)
    assert out.shape == img.shape
    assert out.dtype == np.uint8


@settings(max_examples=15, deadline=None)
@given(small_images)
def test_nlm_range_and_constant_regions(img):
    out = I.np_nlmeans(img)
    assert out.shape == img.shape
    assert out.dtype == np.uint8
    # NLM output is a convex combination of input pixels: bounded by
    # the input's own range
    assert out.min() >= img.min() - 1 and out.max() <= img.max() + 1


@settings(max_examples=25, deadline=None)
@given(small_images, st.integers(min_value=0, max_value=20),
       st.integers(min_value=0, max_value=20))
def test_warp_integer_translation_exact(img, ty, tx):
    m = np.array([[1.0, 0.0, float(tx)], [0.0, 1.0, float(ty)]])
    got = I.np_warp_affine_cubic(img, m)
    h, w = img.shape
    ys = np.clip(np.arange(h) - ty, 0, h - 1)
    xs = np.clip(np.arange(w) - tx, 0, w - 1)
    assert np.array_equal(got, img[ys[:, None], xs[None, :]])


@settings(max_examples=25, deadline=None)
@given(small_images)
def test_adaptive_threshold_binary_alphabet(img):
    out = I.np_adaptive_threshold_gaussian(img)
    assert np.isin(out, (0, 255)).all()


# ---------------------------------------------------------- h264 / warc

@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=1, max_value=3),
       st.integers(min_value=1, max_value=3),
       st.integers(min_value=0, max_value=2**32 - 1))
def test_h264_ipcm_roundtrip_random(mb_h, mb_w, seed):
    from streamprocess_spark.functions.h264 import (
        np_build_h264_ipcm,
        np_decode_h264_ipcm,
    )

    rng = np.random.default_rng(seed)
    h = 16 * mb_h - 2 * int(rng.integers(0, 4))
    w = 16 * mb_w - 2 * int(rng.integers(0, 4))
    frames = [
        rng.integers(0, 256, (h, w), dtype=np.uint8)
        for _ in range(int(rng.integers(1, 4)))
    ]
    dec = np_decode_h264_ipcm(np_build_h264_ipcm(frames))
    assert len(dec) == len(frames)
    for a, b in zip(frames, dec):
        assert np.array_equal(a, b)


@settings(max_examples=20, deadline=None)
@given(st.integers(min_value=0, max_value=2**32 - 1),
       st.booleans())
def test_warc_roundtrip_random_bodies(seed, gz):
    from streamprocess_spark.functions.warc import (
        np_build_warc,
        np_parse_warc,
    )

    rng = np.random.default_rng(seed)
    recs = []
    for i in range(int(rng.integers(1, 5))):
        body = bytes(rng.integers(0, 256, int(rng.integers(0, 300)),
                                  dtype=np.uint8))
        recs.append({
            "warc_type": "response", "record_id": f"uuid:{i}",
            "date": "2026-08-14T00:00:00Z",
            "target_uri": f"http://e.com/{i}",
            "http_status": int(rng.choice([200, 301, 404, 500])),
            "http_content_type": "application/octet-stream",
            "body": body,
        })
    parsed = np_parse_warc(np_build_warc(recs, gzip_members=gz))
    assert len(parsed) == len(recs)
    for want, got in zip(recs, parsed):
        assert got["body"] == want["body"]
        assert got["http_status"] == want["http_status"]
        assert got["target_uri"] == want["target_uri"]
