"""Unit tests for the scalar-function library (SURVEY §2.10), pure
numpy — mirroring the reference's own property assertions
(tests/unit/test_preprocessing.py): resample length, normalization
bounds, binarize {0,255} domain, crop-contains-content, blank/size
validation, plus determinism of the mock inference layer."""

from __future__ import annotations

import numpy as np
import pytest

from streamprocess_spark.functions import audio as A
from streamprocess_spark.functions import image as I
from streamprocess_spark.functions import inference as M


def _tone(freq=440.0, sr=16000, dur=1.0, amp=0.3):
    t = np.arange(int(sr * dur)) / sr
    return (amp * np.sin(2 * np.pi * freq * t)).astype(np.float32)


# --------------------------------------------------------------- audio

def test_decode_encode_roundtrip():
    x = np.array([-512, -1, 0, 1, 511], dtype=np.int64) / 1024.0
    raw = A.np_encode_linear16(x.astype(np.float32))
    back = A.np_decode_linear16(raw)
    assert np.allclose(back, x, atol=1 / 32768.0)


def test_resample_length_and_identity():
    x = _tone()
    # test_preprocessing.py:15-24: output length scales by sr ratio
    assert len(A.np_resample(x, 16000, 8000)) == 8000
    assert len(A.np_resample(x, 8000, 16000)) == 32000
    assert A.np_resample(x, 16000, 16000) is not None
    assert np.array_equal(A.np_resample(x, 16000, 16000), x)


def test_resample_2x_even_grid_exact():
    # even output indices coincide with input knots exactly (q52 oracle)
    x = (np.arange(100) % 1025 - 512).astype(np.float32) / 1024.0
    up = A.np_resample(x, 8000, 16000)
    assert np.array_equal(up[::2], x)


def test_to_mono():
    # test_preprocessing.py:26-34
    stereo = np.array([1.0, 3.0, 2.0, 4.0], dtype=np.float32)  # interleaved
    mono = A.np_to_mono(stereo, 2)
    assert np.array_equal(mono, np.array([2.0, 3.0], dtype=np.float32))


def test_normalize_bounds_and_target():
    # test_preprocessing.py:36-48: |y| <= 1 and RMS near target dBFS
    x = _tone(amp=0.9)
    y = A.np_normalize(x, target_dbfs=-20.0)
    assert np.max(np.abs(y)) <= 1.0
    rms = np.sqrt(np.mean(y.astype(np.float64) ** 2))
    assert abs(20 * np.log10(rms) - (-20.0)) < 1.0
    silence = np.zeros(100, dtype=np.float32)
    assert np.array_equal(A.np_normalize(silence), silence)


def test_agc_moves_amplitude_toward_target():
    # test_preprocessing.py:62-80: quiet audio is amplified
    x = _tone(amp=0.01)
    y = A.np_agc(x, target=0.1)
    assert np.max(np.abs(y[1600:])) > np.max(np.abs(x[1600:]))
    assert np.max(np.abs(y)) <= 1.0


def test_denoise_preserves_length():
    x = _tone()
    assert len(A.np_denoise(x)) == len(x)


def test_high_pass_removes_dc():
    x = (_tone() + 0.5).astype(np.float32)  # DC offset
    y = A.np_high_pass(x, cutoff=80.0, sr=16000)
    assert abs(np.mean(y[1000:-1000])) < 0.01


def test_vad_flags_silence_vs_speech():
    sr, frame = 16000, 480
    sig = np.concatenate([
        np.zeros(frame * 3, dtype=np.float32),
        _tone(dur=frame * 3 / sr),
        np.zeros(frame * 3, dtype=np.float32),
    ])
    flags = A.np_vad_flags(sig, sr=sr, frame_ms=30, threshold=0.01)
    assert flags.tolist() == [False] * 3 + [True] * 3 + [False] * 3


def test_features_shape_and_ranges():
    f = A.np_features(_tone(), sr=16000)
    assert set(f) == {"rms", "zcr", "centroid", "bandwidth", "rolloff"}
    assert 0 < f["rms"] < 1
    assert 0 <= f["rolloff"] <= 8000
    assert 300 < f["centroid"] < 600  # 440 Hz tone


def test_preprocess_pipeline_runs():
    y = A.np_preprocess(_tone(sr=8000, dur=0.5), orig_sr=8000)
    assert y.dtype == np.float32
    assert len(y) == 8000  # 0.5 s at 16 kHz
    assert np.max(np.abs(y)) <= 1.0


# --------------------------------------------------------------- image

def _block_image(w=200, h=150):
    img = np.full((h, w), 255, dtype=np.uint8)
    img[20:40, 30:90] = 40
    img[60:80, 10:60] = 40
    return img


def test_binarize_domain():
    # test_preprocessing.py:194-210: output strictly {0, 255}
    img = _block_image()
    for method in ("otsu", "adaptive", "fixed"):
        out = I.np_binarize(img, method=method)
        assert set(np.unique(out)) <= {0, 255}


def test_otsu_separates_bimodal():
    img = _block_image()
    t = I.np_otsu_threshold(img)
    assert 40 <= t < 255
    binary = I.np_binarize(img, "otsu")
    assert (binary == 0).sum() == (img == 40).sum()


def test_morph_open_removes_speck():
    # erode-then-dilate opening removes isolated bright specks
    img = np.zeros((20, 20), dtype=np.uint8)
    img[10, 10] = 255
    opened = I.np_morph_open(img)
    assert (opened == 255).sum() == 0
    # a large bright block survives opening with its interior intact
    img2 = np.zeros((20, 20), dtype=np.uint8)
    img2[5:15, 5:15] = 255
    opened2 = I.np_morph_open(img2)
    assert np.array_equal(opened2[6:14, 6:14], img2[6:14, 6:14])


def test_resize_nearest():
    img = _block_image()
    up = I.np_resize_nearest(img, 2.0)
    assert up.shape == (300, 400)
    down = I.np_resize_nearest(img, 0.5)
    assert down.shape == (75, 100)


def test_detect_layout_exact_geometry():
    img = _block_image()
    elems = I.np_detect_layout(img)
    assert [(e["x"], e["y"], e["width"], e["height"]) for e in elems] == [
        (30, 20, 60, 20),
        (10, 60, 50, 20),
    ]
    assert all(e["type"] == "block" for e in elems)
    # sorted top-to-bottom, left-to-right (image_processor.py:329)
    assert elems == sorted(elems, key=lambda e: (e["y"], e["x"]))


def test_crop_contains_content():
    # test_preprocessing.py:222-234
    img = _block_image()
    cropped = I.np_crop_to_content(img, padding=5)
    assert cropped.shape[0] <= img.shape[0]
    assert (cropped < I.WHITE).sum() == (img < I.WHITE).sum()


def test_validate_image():
    # test_preprocessing.py:254-277
    assert I.np_validate_image(_block_image()) == (True, "ok")
    blank = np.full((200, 200), 255, dtype=np.uint8)
    assert I.np_validate_image(blank) == (False, "blank")
    small = np.full((50, 200), 255, dtype=np.uint8)
    assert I.np_validate_image(small) == (False, "too_small")
    huge = np.full((101, 10001), 0, dtype=np.uint8)
    assert I.np_validate_image(huge) == (False, "too_large")


def test_bbox_from_quad():
    # ocr_worker.py:373-379
    quad = [(10.0, 5.0), (50.0, 6.0), (49.0, 25.0), (11.0, 24.0)]
    assert I.np_bbox_from_quad(quad) == (10, 5, 40, 20)


def test_decode_image_raw_and_stubs():
    img = _block_image()
    assert np.array_equal(I.decode_image(img.tobytes(), 200, 150), img)
    with pytest.raises(ValueError):
        I.decode_image(img.tobytes(), 10, 10)
    with pytest.raises(NotImplementedError):
        I.decode_image(img.tobytes(), 200, 150, fmt="WEBP")


# --------------------------------------------------- PNG codec (S15)

class TestPngCodec:
    def test_gray_roundtrip_exact(self):
        img = _block_image()
        raw = I.np_encode_png(img)
        assert raw[:8] == b"\x89PNG\r\n\x1a\n"
        back = I.np_decode_png(raw)
        assert back.shape == img.shape and np.array_equal(back, img)

    def test_rgb_roundtrip_and_luma(self):
        rng = np.random.default_rng(7)
        img = rng.integers(0, 256, size=(20, 30, 3), dtype=np.uint8)
        back = I.np_decode_png(I.np_encode_png(img))
        assert back.shape == (20, 30, 3) and np.array_equal(back, img)
        gray = I.np_png_to_gray(back)
        assert gray.shape == (20, 30)
        # ITU-R 601 weights on a known pixel
        r, g, b = (int(v) for v in img[0, 0])
        assert gray[0, 0] == int(np.rint(0.299 * r + 0.587 * g + 0.114 * b))

    def test_decode_image_png_path(self):
        img = _block_image()
        out = I.decode_image(I.np_encode_png(img), 200, 150, fmt="PNG")
        assert np.array_equal(out, img)
        with pytest.raises(ValueError, match="dims"):
            I.decode_image(I.np_encode_png(img), 10, 10, fmt="PNG")

    def test_all_filter_types_unfilter(self):
        """Decode a hand-filtered PNG using Sub/Up/Average/Paeth rows —
        external encoders emit these even though ours writes filter 0."""
        import struct
        import zlib

        rng = np.random.default_rng(11)
        img = rng.integers(0, 256, size=(5, 8), dtype=np.uint8)

        def filt(ftype, cur, prev):
            out = np.empty_like(cur)
            for i in range(len(cur)):
                a = int(cur[i - 1]) if i >= 1 else 0
                b = int(prev[i])
                c = int(prev[i - 1]) if i >= 1 else 0
                if ftype == 1:
                    pred = a
                elif ftype == 2:
                    pred = b
                elif ftype == 3:
                    pred = (a + b) >> 1
                else:
                    p = a + b - c
                    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                    pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                out[i] = (int(cur[i]) - pred) & 0xFF
            return out

        ftypes = [0, 1, 2, 3, 4]
        lines = []
        for r, ftype in enumerate(ftypes):
            prev = img[r - 1] if r > 0 else np.zeros(8, dtype=np.uint8)
            body = img[r] if ftype == 0 else filt(ftype, img[r], prev)
            lines.append(bytes([ftype]) + body.tobytes())
        ihdr = struct.pack(">IIBBBBB", 8, 5, 8, 0, 0, 0, 0)
        raw = (
            b"\x89PNG\r\n\x1a\n"
            + I._png_chunk(b"IHDR", ihdr)
            + I._png_chunk(b"IDAT", zlib.compress(b"".join(lines)))
            + I._png_chunk(b"IEND", b"")
        )
        assert np.array_equal(I.np_decode_png(raw), img)

    def test_bmp_roundtrip_and_24bit(self):
        img = _block_image()
        raw = I.np_encode_bmp(img)
        assert raw[:2] == b"BM"
        assert np.array_equal(I.np_decode_bmp(raw), img)
        assert np.array_equal(I.decode_image(raw, 200, 150, fmt="BMP"), img)
        # odd width exercises 4-byte row padding
        odd = img[:, :157]
        assert np.array_equal(I.np_decode_bmp(I.np_encode_bmp(odd)), odd)
        # hand-built 24-bit BGR, 2x2, bottom-up
        import struct

        px = bytes([10, 20, 30, 40, 50, 60, 0, 0,   # row1 (bottom) + pad
                    70, 80, 90, 100, 110, 120, 0, 0])  # row0 (top) + pad
        hdr = struct.pack("<2sIHHI", b"BM", 54 + len(px), 0, 0, 54)
        dib = struct.pack("<IiiHHIIiiII", 40, 2, 2, 1, 24, 0, len(px), 0, 0, 0, 0)
        out = I.np_decode_bmp(hdr + dib + px)
        assert out.shape == (2, 2)
        # top-left pixel = BGR(70,80,90) → luma
        assert out[0, 0] == int(np.rint(0.114 * 70 + 0.587 * 80 + 0.299 * 90))
        with pytest.raises(NotImplementedError, match="compression"):
            bad = bytearray(hdr + dib + px)
            struct.pack_into("<I", bad, 14 + 16, 1)  # BI_RLE8
            I.np_decode_bmp(bytes(bad))

    def test_16bit_and_adam7_roundtrip(self):
        """PNG 16-bit samples and Adam7 interlace — including tiny
        images where some of the seven passes are empty."""
        rng = np.random.default_rng(5)
        for shape, dtype in (((23, 37), np.uint16), ((16, 16, 3), np.uint16),
                             ((23, 37), np.uint8), ((9, 5, 3), np.uint8),
                             ((1, 1), np.uint8), ((2, 3), np.uint16),
                             ((5, 1), np.uint8)):
            img = rng.integers(0, np.iinfo(dtype).max + 1, shape).astype(dtype)
            for inter in (False, True):
                back = I.np_decode_png(I.np_encode_png(img, interlace=inter))
                assert back.dtype == img.dtype, (shape, dtype, inter)
                assert np.array_equal(back, img), (shape, dtype, inter)

    def test_16bit_collapses_to_gray8(self):
        img = np.array([[0, 257, 65535]], dtype=np.uint16)
        assert np.array_equal(I.np_png_to_gray(img), [[0, 1, 255]])
        out = I.decode_image(I.np_encode_png(img), 3, 1, fmt="PNG")
        assert out.dtype == np.uint8 and np.array_equal(out, [[0, 1, 255]])

    def test_paletted_and_subbyte_depths(self):
        """Color type 3 (PLTE lookup → RGB) at depths 1/2/4/8 with
        row bit-padding, and 1/2/4-bit grayscale scaled to 8-bit."""
        import struct
        import zlib

        rng = np.random.default_rng(4)
        for depth, w in ((1, 7), (2, 5), (4, 3), (8, 29)):
            n = 1 << depth
            pal = rng.integers(0, 256, (n, 3)).astype(np.uint8)
            idx = rng.integers(0, n, (5, w)).astype(np.uint8)
            enc = I.np_encode_png_indexed(idx, pal, depth)
            assert np.array_equal(I.np_decode_png(enc), pal[idx]), depth
        # paletted stream with its PLTE stripped → clean rejection
        raw = bytearray(I.np_encode_png_indexed(
            np.zeros((2, 2), np.uint8), np.zeros((2, 3), np.uint8)))
        at = bytes(raw).index(b"PLTE") - 4
        size = int.from_bytes(raw[at:at + 4], "big")
        del raw[at:at + 12 + size]
        with pytest.raises(ValueError, match="PLTE"):
            I.np_decode_png(bytes(raw))
        # sub-byte GRAYSCALE (type 0): samples scale to 8-bit exactly
        for depth in (1, 2, 4):
            vals = rng.integers(0, 1 << depth, (4, 9)).astype(np.uint8)
            bits = ((vals[:, :, None] >> np.arange(depth - 1, -1, -1)) & 1) \
                .reshape(4, 9 * depth).astype(np.uint8)
            rows = np.packbits(bits, axis=1)
            data = np.concatenate(
                [np.zeros((4, 1), np.uint8), rows], axis=1).tobytes()
            png = (I._PNG_SIG
                   + I._png_chunk(b"IHDR",
                                  struct.pack(">IIBBBBB", 9, 4, depth, 0, 0, 0, 0))
                   + I._png_chunk(b"IDAT", zlib.compress(data))
                   + I._png_chunk(b"IEND", b""))
            want = vals * (255 // ((1 << depth) - 1))
            assert np.array_equal(I.np_decode_png(png), want), depth

    def test_unsupported_pngs_rejected(self):
        img = _block_image()
        raw = bytearray(I.np_encode_png(img))
        # IHDR body starts at 8 (sig) + 8 (len+tag); depth byte at +8
        ihdr_off = 16
        raw4 = raw.copy()
        raw4[ihdr_off + 8] = 3           # depth 3: invalid per spec
        with pytest.raises(NotImplementedError, match="depth"):
            I.np_decode_png(bytes(raw4))
        rawp = raw.copy()
        rawp[ihdr_off + 9] = 5           # undefined color type
        with pytest.raises(NotImplementedError, match="color type"):
            I.np_decode_png(bytes(rawp))
        raw3 = raw.copy()
        raw3[ihdr_off + 9] = 3           # paletted but no PLTE chunk
        with pytest.raises(ValueError, match="PLTE"):
            I.np_decode_png(bytes(raw3))
        # lying interlace flag on sequential data → size mismatch
        rawi = raw.copy()
        rawi[ihdr_off + 12] = 1
        with pytest.raises(ValueError):
            I.np_decode_png(bytes(rawi))
        with pytest.raises(ValueError, match="signature"):
            I.np_decode_png(b"\x89PNG")


def _striped_page(h: int = 160, w: int = 240) -> np.ndarray:
    """Synthetic text page: horizontal dark 'lines' every 16 px."""
    img = np.full((h, w), 255, dtype=np.uint8)
    for y0 in range(20, h - 20, 16):
        img[y0: y0 + 4, 20: w - 20] = 30
    return img


def test_deskew_recovers_known_rotation():
    page = _striped_page()
    skewed = I.np_rotate(page, 7.0)
    corrected, est = I.deskew(skewed)
    # PCA angle of the stripe cloud must see the injected skew...
    assert abs(est - 7.0) < 1.5
    # ...and correcting it must sharpen the projection profile back up
    assert I.np_profile_sharpness(corrected) > 2.0 * I.np_profile_sharpness(skewed)


def test_auto_rotate_maximizes_profile_sharpness():
    page = _striped_page()
    skewed = I.np_rotate(page, -5.5)
    corrected, applied = I.auto_rotate(skewed)
    assert abs(applied - 5.5) <= 1.0
    assert (
        I.np_profile_sharpness(corrected)
        >= 0.8 * I.np_profile_sharpness(page)
    )


def test_rotate_zero_is_identity_and_preserves_shape():
    page = _striped_page()
    assert np.array_equal(I.np_rotate(page, 0.0), page)
    assert I.np_rotate(page, 33.0).shape == page.shape


def test_fake_decode_deterministic():
    a = I.fake_decode("doc-1", 200, 150)
    b = I.fake_decode("doc-1", 200, 150)
    assert np.array_equal(a, b)
    assert not np.array_equal(a, I.fake_decode("doc-2", 200, 150))


# ----------------------------------------------------------- inference

def test_mock_whisper_deterministic():
    x = _tone()
    r1, r2 = M.mock_whisper_transcribe(x), M.mock_whisper_transcribe(x)
    assert r1 == r2
    assert 0.0 <= r1["confidence"] <= 1.0
    assert r1["language"] == "en"
    assert r1["n_segments"] >= 1
    silent = M.mock_whisper_transcribe(np.zeros(16000, dtype=np.float32))
    assert silent["text"] == ""


def test_mock_paddleocr_one_line_per_block():
    img = _block_image()
    lines = M.mock_paddleocr(img)
    assert len(lines) == 2
    for line in lines:
        assert 0.5 <= line["confidence"] <= 1.0
        assert len(line["text"].split()) == 4


# ------------------------------------------------- WAV container (S15)

class TestWavParse:
    """np_build_wav/np_parse_wav round-trip + RIFF edge cases (the
    reference builds the same hand-rolled PCM16 WAV fixture,
    tests/conftest.py:107-146 there)."""

    def test_roundtrip(self):
        x = _tone(dur=0.25)
        raw = A.np_build_wav(A.np_encode_linear16(x), sr=16000, channels=1)
        y, sr, ch = A.np_parse_wav(raw)
        assert sr == 16000 and ch == 1
        # encode truncates at 32767 scale, decode divides by 32768 →
        # worst case just over 1 LSB
        assert np.allclose(y, x, atol=2 / 32768.0)

    def test_odd_length_data_word_aligned(self):
        # 3 bytes of PCM → 1 complete sample + padding byte in RIFF
        raw = A.np_build_wav(b"\x00\x01\x02", sr=8000)
        y, sr, _ = A.np_parse_wav(raw)
        assert sr == 8000 and len(y) == 1

    def test_extra_chunks_skipped(self):
        """A LIST/INFO chunk between fmt and data must be walked over."""
        x = _tone(dur=0.1)
        pcm = A.np_encode_linear16(x)
        raw = A.np_build_wav(pcm, sr=16000)
        # splice an extra chunk right after the fmt chunk (offset 12 is
        # the first chunk; fmt body is 16 bytes → next chunk at 36)
        extra = b"LIST" + (4).to_bytes(4, "little") + b"INFO"
        spliced = raw[:36] + extra + raw[36:]
        spliced = spliced[:4] + (len(spliced) - 8).to_bytes(4, "little") + spliced[8:]
        y, sr, _ = A.np_parse_wav(spliced)
        assert sr == 16000 and np.allclose(y, x, atol=2 / 32768.0)

    def test_truncated_and_garbage_rejected(self):
        with pytest.raises(ValueError):
            A.np_parse_wav(b"RIFF")                    # too short
        with pytest.raises(ValueError):
            A.np_parse_wav(b"\x00" * 64)               # not RIFF
        raw = A.np_build_wav(b"\x00\x01" * 100)
        with pytest.raises(ValueError):
            A.np_parse_wav(raw[:20])                   # fmt/data missing

    def test_non_pcm_rejected(self):
        raw = bytearray(A.np_build_wav(b"\x00\x01" * 4))
        raw[20:22] = (3).to_bytes(2, "little")         # IEEE float fmt tag
        with pytest.raises(ValueError, match="PCM16"):
            A.np_parse_wav(bytes(raw))

    def test_g711_wav_containers(self):
        """fmt 6 (A-law) / fmt 7 (µ-law) WAVs route through the
        existing G.711 expanders — the telephony WAV flavors the
        reference's soundfile path accepts."""
        codes = bytes(range(256))
        for tag, dec in ((6, A.np_decode_alaw), (7, A.np_decode_mulaw)):
            raw = bytearray(A.np_build_wav(codes, sr=8000))
            raw[20:22] = tag.to_bytes(2, "little")
            raw[34:36] = (8).to_bytes(2, "little")     # bits per sample
            y, sr, ch = A.np_parse_wav(bytes(raw))
            assert sr == 8000 and ch == 1
            assert np.array_equal(y, dec(codes)), tag

    def test_stereo_interleaved(self):
        left = _tone(440, dur=0.05)
        right = _tone(880, dur=0.05)
        inter = np.empty(2 * len(left), dtype=np.float32)
        inter[0::2], inter[1::2] = left, right
        raw = A.np_build_wav(A.np_encode_linear16(inter), sr=16000, channels=2)
        y, sr, ch = A.np_parse_wav(raw)
        assert ch == 2
        mono = A.np_to_mono(y, ch)
        assert np.allclose(mono, (left + right) / 2, atol=2 / 32768.0)

    def test_decode_audio_resamples_to_target_sr(self):
        """ADVICE item: a non-16k WAV must not flow through at its
        native rate — np_decode_audio honors the parsed rate and
        resamples (reference resamples from the actual source rate)."""
        x = _tone(freq=200, sr=8000, dur=0.5)
        raw = A.np_build_wav(A.np_encode_linear16(x), sr=8000)
        y = A.np_decode_audio(raw, "WAV", target_sr=16000)
        assert len(y) == 2 * len(x)                    # 8k → 16k doubles
        # same duration, same dominant frequency content
        ref = A.np_resample(x, 8000, 16000)
        assert np.allclose(y, ref, atol=2 / 32768.0)

    def test_decode_audio_unknown_codec_stubbed(self):
        with pytest.raises(NotImplementedError):
            A.np_decode_audio(b"\x00\x01", "MP3")


class TestG711:
    """G.711 µ-law/A-law telephony codecs (S15), cross-validated
    against CPython's audioop reference implementation."""

    def test_matches_audioop_reference(self):
        audioop = pytest.importorskip("audioop")
        raw = bytes(range(256))
        ref_u = np.frombuffer(audioop.ulaw2lin(raw, 2), dtype="<i2")
        # audioop expands to 16-bit = our 14-bit magnitude << 2
        assert np.allclose(
            A.np_decode_mulaw(raw), ref_u / (8159.0 * 4), atol=1e-7
        )
        ref_a = np.frombuffer(audioop.alaw2lin(raw, 2), dtype="<i2")
        assert np.allclose(
            A.np_decode_alaw(raw), ref_a / (4032.0 * 8), atol=1e-7
        )

    def test_decode_audio_dispatch_resamples_8k(self):
        x = _tone(freq=300, sr=8000, dur=0.25, amp=0.4)
        enc = A.np_encode_mulaw(x)
        y = A.np_decode_audio(enc, "MULAW", target_sr=16000)
        assert len(y) == 2 * len(x)        # 8 kHz G.711 → 16 kHz
        # companding is lossy but small at this amplitude
        ref = A.np_resample(A.np_decode_mulaw(enc), 8000, 16000)
        assert np.allclose(y, ref)


# --------------------------------------------- OCR engine dispatch F26

def test_mock_tesseract_is_a_distinct_engine():
    """F26: same boundary, observably different backend — per-block
    line structure like paddle, but different text derivation and a
    tesseract-style integer-percent confidence model."""
    img = _block_image()
    paddle = M.mock_paddleocr(img)
    tess = M.mock_tesseract(img)
    assert len(paddle) == len(tess) == 2
    for p, t in zip(paddle, tess):
        assert (p["x"], p["y"]) == (t["x"], t["y"])    # same geometry
        assert p["text"] != t["text"]                  # different decode
        assert len(t["text"].split()) == 2
        assert 0.60 <= t["confidence"] <= 0.99
        assert round(t["confidence"] * 100) == t["confidence"] * 100


def test_ocr_engine_udf_switches_backends(spark):
    """F26 engine-switch observability through the Spark boundary:
    identical images, different `engine` column → different lines,
    unknown engine falls back to paddle (service.py default)."""
    from pyspark.sql import functions as F

    img = _block_image()
    rows = [(img.tobytes(), 200, 150, e) for e in ("paddle", "tesseract", "bogus")]
    df = spark.createDataFrame(
        rows, "image binary, width int, height int, engine string"
    )
    out = {
        r["engine"]: r["lines"]
        for r in df.select(
            "engine",
            M.ocr_engine_udf("image", "width", "height", "engine").alias("lines"),
        ).collect()
    }
    assert [l["text"] for l in out["bogus"]] == [l["text"] for l in out["paddle"]]
    assert [l["text"] for l in out["tesseract"]] != [l["text"] for l in out["paddle"]]
    assert len(out["tesseract"]) == 2


# --------------------------------------------------- video (§2.13)

class TestVideo:
    def test_rawv_roundtrip(self):
        from streamprocess_spark.functions import video as V

        rng = np.random.default_rng(3)
        frames = rng.integers(0, 256, size=(5, 24, 32), dtype=np.uint8)
        raw = V.np_build_rawv(frames, fps=30)
        back, fps = V.np_parse_rawv(raw)
        assert fps == 30 and np.array_equal(back, frames)

    def test_frame_sampling_and_motion(self):
        from streamprocess_spark.functions import video as V

        frames = np.stack([
            np.full((4, 4), v, dtype=np.uint8) for v in (10, 20, 30, 40, 50)
        ])
        out = V.np_sample_frames(V.np_build_rawv(frames), step=2)
        assert [o["frame_idx"] for o in out] == [0, 2, 4]
        assert [o["luma_sum"] for o in out] == [160, 480, 800]
        assert out[0]["motion"] is None
        assert [o["motion"] for o in out[1:]] == [320, 320]

    def test_truncated_and_codec_stub(self):
        from streamprocess_spark.functions import video as V

        frames = np.zeros((2, 4, 4), dtype=np.uint8)
        raw = V.np_build_rawv(frames)
        with pytest.raises(ValueError, match="truncated"):
            V.np_parse_rawv(raw[:-5])
        with pytest.raises(ValueError, match="magic"):
            V.np_parse_rawv(b"XXXX" + raw[4:])
        with pytest.raises(NotImplementedError):
            V.np_decode_video(raw, fmt="FLV")
        # MP4 and Matroska are real now: a RAWV payload under those
        # paths is a clean ValueError, not a stub error
        with pytest.raises(ValueError, match="ftyp"):
            V.np_decode_video(raw, fmt="MP4")
        with pytest.raises(ValueError, match="EBML"):
            V.np_decode_video(raw, fmt="WEBM")

    # -- AVI / MJPEG container -----------------------------------------

    def _mjpeg_frames(self, n=6, h=32, w=48):
        imgs = []
        for k in range(n):
            img = np.zeros((h, w), np.uint8)
            for by in range(h // 8):
                for bx in range(w // 8):
                    img[by*8:(by+1)*8, bx*8:(bx+1)*8] = \
                        128 + 2 * ((k * 11 + by * 6 + bx) % 60 - 30)
            imgs.append(img)
        return imgs

    def test_avi_mjpeg_roundtrip(self):
        from streamprocess_spark.functions import video as V

        imgs = self._mjpeg_frames()
        frames = [J.np_encode_jpeg_gray(i, quality=50) for i in imgs]
        avi = V.np_build_avi_mjpeg(frames, 48, 32, fps=5)
        payloads, info = V.np_demux_avi_mjpeg(avi)
        assert info["codec"] == "MJPG" and info["n_frames"] == 6
        assert (info["width"], info["height"]) == (48, 32)
        assert info["us_per_frame"] == 200000
        # DC-exact fixtures → bit-identical frames through the codec
        decoded, fps = V.np_parse_avi_mjpeg(avi)
        assert fps == 5
        assert np.array_equal(decoded, np.stack(imgs))
        # the generic sampler accepts the AVI container directly
        out = V.np_sample_frames(avi, step=2, fmt="AVI")
        assert [o["frame_idx"] for o in out] == [0, 2, 4]

    def test_avi_color_frames_yield_luma(self):
        from streamprocess_spark.functions import video as V

        y = np.full((32, 48), 130, np.uint8)
        cb = np.full((32, 48), 128 + 17, np.uint8)
        cr = np.full((32, 48), 128 - 17, np.uint8)
        f = J.np_encode_jpeg_ycbcr(y, cb, cr, quality=50, subsample="420")
        avi = V.np_build_avi_mjpeg([f, f], 48, 32, fps=10)
        decoded, _ = V.np_parse_avi_mjpeg(avi)
        assert np.array_equal(decoded[0], y)

    def test_avi_rejections(self):
        from streamprocess_spark.functions import video as V

        frames = [J.np_encode_jpeg_gray(i) for i in self._mjpeg_frames(2)]
        avi = V.np_build_avi_mjpeg(frames, 48, 32)
        with pytest.raises(ValueError, match="RIFF/AVI"):
            V.np_demux_avi_mjpeg(b"RIFX" + avi[4:])
        with pytest.raises(ValueError, match="truncated"):
            V.np_demux_avi_mjpeg(avi[:50])
        with pytest.raises(ValueError, match="truncated"):
            V.np_demux_avi_mjpeg(
                avi[:4] + (10**9).to_bytes(4, "little") + avi[8:]
            )
        # non-MJPG vids stream → documented rejection
        mut = bytearray(avi)
        at = avi.index(b"vids") + 4
        mut[at:at + 4] = b"H264"
        with pytest.raises(NotImplementedError, match="H264"):
            V.np_demux_avi_mjpeg(bytes(mut))


# ----------------------------------------- MPEG audio container (S15)


class TestMpegAudio:
    """ISO 11172-3 frame-walk prober (functions/mpeg_audio.py): header
    tables, exact frame lengths/durations, ID3 handling, totality.
    PCM decode is the documented stub (module docstring)."""

    def test_probe_all_layers(self):
        from streamprocess_spark.functions import mpeg_audio as M

        for layer, kbps, sr, spf in (
            (3, 128, 44100, 1152), (2, 192, 48000, 1152), (1, 256, 32000, 384),
        ):
            raw = M.np_build_mpeg_frames(50, layer, kbps, sr)
            p = M.np_probe_mpeg_audio(raw)
            assert p["layer"] == layer and p["n_frames"] == 50
            assert p["sample_rate"] == sr
            assert p["duration_ms"] == 50 * spf * 1000 // sr
            assert abs(p["avg_kbps"] - kbps) <= 1

    def test_id3v2_skip_and_id3v1_trailer(self):
        from streamprocess_spark.functions import mpeg_audio as M

        raw = M.np_build_mpeg_frames(10, id3_title="hello world")
        assert raw[:3] == b"ID3"
        assert M.np_probe_mpeg_audio(raw)["n_frames"] == 10
        with_tag = M.np_build_mpeg_frames(5) + b"TAG" + b"\x00" * 125
        assert M.np_probe_mpeg_audio(with_tag)["n_frames"] == 5

    def test_garbage_truncation_inconsistency_rejected(self):
        from streamprocess_spark.functions import mpeg_audio as M

        with pytest.raises(ValueError, match="sync"):
            M.np_probe_mpeg_audio(b"\x00" * 100)
        with pytest.raises(ValueError, match="truncated final"):
            M.np_probe_mpeg_audio(M.np_build_mpeg_frames(5)[:-7])
        mixed = (M.np_build_mpeg_frames(3, layer=3, sr=44100)
                 + M.np_build_mpeg_frames(3, layer=2, sr=48000))
        with pytest.raises(ValueError, match="inconsistent"):
            M.np_probe_mpeg_audio(mixed)

    def test_pcm_decode_stays_documented_stub(self):
        from streamprocess_spark.functions import audio as A2

        with pytest.raises(NotImplementedError, match="mpeg_audio"):
            A2.np_decode_audio(b"\xff\xfb\x90\x00", "MP3")

    def test_ingest_sniffs_and_routes_mp3_and_avi(self):
        from streamprocess_spark.functions import mpeg_audio as M
        from streamprocess_spark.functions import video as V
        from streamprocess_spark.io.ingest import make_envelope, sniff_format

        mp3 = M.np_build_mpeg_frames(6)
        assert sniff_format(mp3) == ("MP3", "stt_batch", "normal")
        assert make_envelope(mp3)["type"] == "stt_batch"
        # malformed MP3 → dead-letter, not crash
        assert make_envelope(mp3[:-3])["type"] == "corrupt_media"

        frames = [J.np_encode_jpeg_gray(np.full((16, 16), 100, np.uint8))]
        avi = V.np_build_avi_mjpeg(frames, 16, 16)
        assert sniff_format(avi) == ("AVI", "video_batch", "low")
        assert make_envelope(avi)["type"] == "video_batch"
        assert make_envelope(avi[:40])["type"] == "corrupt_media"


# ----------------------------------------- Ogg/Opus container (S15)


class TestOggOpus:
    """RFC 3533/7845/6716 container prober (functions/ogg_opus.py):
    page CRC walk, lacing reassembly, OpusHead, TOC duration clocks,
    totality. PCM decode is the documented stub (module docstring)."""

    def test_probe_modes_and_durations(self):
        from streamprocess_spark.functions import ogg_opus as O

        for cfg, mode, us in ((1, "SILK", 20000), (14, "HYBRID", 10000),
                              (19, "CELT", 20000), (16, "CELT", 2500)):
            for fpp in (1, 3):
                raw = O.np_build_ogg_opus(
                    7, config=cfg, channels=2, frames_per_packet=fpp,
                    seed=cfg,
                )
                p = O.np_probe_ogg_opus(raw)
                assert p["channels"] == 2 and p["n_packets"] == 7
                want = 7 * fpp * us // 1000
                # granule clock and TOC clock agree independently
                assert p["duration_ms"] == want == p["toc_duration_ms"]
                assert p["modes"] == mode

    def test_255_lacing_chains(self):
        from streamprocess_spark.functions import ogg_opus as O

        # 700-byte packets need 255+255+190 lacing; exactly 255 needs
        # the 0-length terminator segment
        for payload in (700, 254, 509):
            raw = O.np_build_ogg_opus(3, payload_bytes=payload, seed=1)
            assert O.np_probe_ogg_opus(raw)["n_packets"] == 3

    def test_crc_is_ogg_not_zlib(self):
        import zlib

        from streamprocess_spark.functions import ogg_opus as O

        assert O._ogg_crc(b"OggS") != zlib.crc32(b"OggS")
        # flipping any byte breaks that page's CRC → ValueError
        raw = O.np_build_ogg_opus(4, seed=3)
        for i in range(0, len(raw), 31):
            bad = bytearray(raw)
            bad[i] ^= 0xFF
            with pytest.raises(ValueError):
                O.np_probe_ogg_opus(bytes(bad))

    def test_structural_rejections(self):
        from streamprocess_spark.functions import ogg_opus as O

        raw = O.np_build_ogg_opus(4, seed=9)
        with pytest.raises(ValueError, match="capture pattern"):
            O.np_probe_ogg_opus(b"Oggs" + raw[4:])
        for k in range(0, len(raw), 13):
            with pytest.raises(ValueError):
                O.np_probe_ogg_opus(raw[:k])
        # stream whose first packet is not OpusHead
        head_at = raw.index(b"OpusHead")
        vorbis = bytearray(raw)
        vorbis[head_at:head_at + 8] = b"\x01vorbis\x00"
        with pytest.raises(ValueError):
            O.np_probe_ogg_opus(bytes(vorbis))

    def test_pcm_decode_stays_documented_stub(self):
        from streamprocess_spark.functions import audio as A2

        with pytest.raises(NotImplementedError, match="ogg_opus"):
            A2.np_decode_audio(b"OggS" + b"\x00" * 30, "OPUS")

    def test_ingest_sniffs_and_routes_opus(self):
        from streamprocess_spark.functions import ogg_opus as O
        from streamprocess_spark.io.ingest import make_envelope, sniff_format

        ogg = O.np_build_ogg_opus(5, seed=11)
        assert sniff_format(ogg) == ("OPUS", "stt_batch", "normal")
        assert make_envelope(ogg)["type"] == "stt_batch"
        assert make_envelope(ogg[:-9])["type"] == "corrupt_media"


# -------------------------------------------------- MP4 container (S15)


class TestMp4:
    """ISO 14496-12 box walk + sample tables (functions/mp4.py), with
    real decode of 'jpeg' sample entries through the repo's JPEG
    codec; other codecs stay the documented stub."""

    def _mp4(self, nf=4, w=48, h=32, fps=10):
        from streamprocess_spark.functions import mp4 as M4

        imgs = [np.full((h, w), 120 + 4 * k, np.uint8) for k in range(nf)]
        frames = [J.np_encode_jpeg_gray(i, quality=50) for i in imgs]
        return M4.np_build_mp4_mjpeg(frames, w, h, fps=fps), imgs, frames

    def test_probe_and_sample_tables(self):
        from streamprocess_spark.functions import mp4 as M4

        raw, _, frames = self._mp4(nf=5, fps=25)
        p = M4.np_probe_mp4(raw)
        assert p["brand"] == "isom" and p["n_tracks"] == 1
        t = p["tracks"][0]
        assert (t["handler"], t["codec"]) == ("vide", "jpeg")
        assert t["n_samples"] == 5 and t["duration_ms"] == 5 * 1000 // 25
        assert t["width"] == 48 and t["height"] == 32
        assert t["total_bytes"] == sum(len(f) for f in frames)

    def test_demux_decode_bit_exact(self):
        from streamprocess_spark.functions import mp4 as M4

        raw, imgs, frames = self._mp4()
        payloads, _ = M4.np_demux_mp4_jpeg(raw)
        assert payloads == frames            # byte-exact sample ranges
        decoded, fps = M4.np_parse_mp4_jpeg(raw)
        assert fps == 10
        for k, img in enumerate(imgs):       # DC-exact constant frames
            assert np.array_equal(decoded[k], img), k

    def test_totality_and_consistency(self):
        from streamprocess_spark.functions import mp4 as M4

        raw, _, _ = self._mp4()
        for k in range(0, len(raw), 17):
            with pytest.raises((ValueError, NotImplementedError)):
                M4.np_parse_mp4_jpeg(raw[:k])
        # stts/stsz disagreement is caught
        bad = bytearray(raw)
        at = raw.index(b"stts") + 4 + 4 + 4  # sample_count field
        bad[at:at + 4] = (99).to_bytes(4, "big")
        with pytest.raises(ValueError, match="disagree|duration"):
            M4.np_probe_mp4(bytes(bad))

    def test_non_jpeg_codec_is_documented_stub(self):
        from streamprocess_spark.functions import mp4 as M4

        raw, _, _ = self._mp4()
        mut = bytearray(raw)
        at = raw.index(b"jpeg")
        mut[at:at + 4] = b"avc1"
        with pytest.raises(NotImplementedError, match="avc1"):
            M4.np_demux_mp4_jpeg(bytes(mut))

    def test_mdhd_stts_mismatch_tolerated(self):
        """Round-4 advice: muxers legitimately leave mdhd != stts-sum
        (edit lists, last-sample rounding). Within one sample delta the
        probe is silent; beyond that it WARNS instead of dead-lettering
        a structurally valid file."""
        from streamprocess_spark.functions import mp4 as M4

        raw, _, _ = self._mp4(nf=5, fps=25)
        dur_at = raw.index(b"mdhd") + 4 + 4 + 12  # v0 duration field
        base_dur = int.from_bytes(raw[dur_at:dur_at + 4], "big")

        # one-sample rounding delta (sample dur = timescale/fps): quiet
        one = bytearray(raw)
        one[dur_at:dur_at + 4] = (base_dur + 3).to_bytes(4, "big")
        t = M4.np_probe_mp4(bytes(one))["tracks"][0]
        assert t["duration_warning"] is None

        # large edit-list-style gap: surfaced as a warning, not a raise
        big = bytearray(raw)
        big[dur_at:dur_at + 4] = (base_dur * 3).to_bytes(4, "big")
        t = M4.np_probe_mp4(bytes(big))["tracks"][0]
        assert t["duration_warning"] and "mismatch" in t["duration_warning"]

    def test_ingest_sniffs_and_routes_mp4(self):
        from streamprocess_spark.io.ingest import make_envelope, sniff_format

        raw, _, _ = self._mp4()
        assert sniff_format(raw) == ("MP4", "video_batch", "low")
        assert make_envelope(raw)["type"] == "video_batch"
        assert make_envelope(raw[:-25])["type"] == "corrupt_media"


# ----------------------------------------------- netpbm container (S15)


class TestPnm:
    """PGM/PPM (P2/P3/P5/P6) reader + binary writer — the interchange
    format OCR toolchains consume."""

    def test_roundtrip_gray_rgb_ascii_16bit(self):
        rng = np.random.default_rng(2)
        g = rng.integers(0, 256, (13, 29)).astype(np.uint8)
        c = rng.integers(0, 256, (7, 5, 3)).astype(np.uint8)
        assert np.array_equal(I.np_decode_pnm(I.np_encode_pnm(g)), g)
        assert np.array_equal(I.np_decode_pnm(I.np_encode_pnm(c)), c)
        body = "P2\n# comment\n4 2\n255\n" + " ".join(map(str, range(8)))
        assert np.array_equal(
            I.np_decode_pnm(body.encode()),
            np.arange(8, dtype=np.uint8).reshape(2, 4))
        raw16 = b"P5\n29 13\n65535\n" \
            + (g.astype(np.uint16) * 257).astype(">u2").tobytes()
        assert np.array_equal(I.np_decode_pnm(raw16), g)

    def test_totality_and_ingest(self):
        from streamprocess_spark.io.ingest import make_envelope, sniff_format

        g = np.zeros((8, 8), np.uint8)
        enc = I.np_encode_pnm(g)
        for k in range(0, len(enc), 11):
            with pytest.raises(ValueError):
                I.np_decode_pnm(enc[:k])
        with pytest.raises(ValueError, match="maxval"):
            I.np_decode_pnm(b"P2\n1 1\n10\n200\n")
        assert sniff_format(enc) == ("PNM", "ocr_single", "normal")
        assert make_envelope(enc)["type"] == "ocr_single"
        assert make_envelope(enc[:-9])["type"] == "corrupt_media"
        assert sniff_format(b"P5X" + b"\x00" * 8)[0] == "UNKNOWN"
        assert np.array_equal(I.decode_image(enc, 8, 8, fmt="PNM"), g)


# ------------------------------------------------- GIF container (S15)


class TestGif:
    """GIF87a/89a codec (functions/gif.py): LSB-first variable-width
    LZW, interlace, color tables, multi-frame walks, totality."""

    def test_roundtrip_palettes_and_interlace(self):
        from streamprocess_spark.functions import gif as G

        rng = np.random.default_rng(7)
        for n_colors in (4, 16, 256):
            pal = rng.integers(0, 256, (n_colors, 3)).astype(np.uint8)
            idx = rng.integers(0, n_colors, (23, 37)).astype(np.uint8)
            for inter in (False, True):
                frames, (w, h) = G.np_decode_gif(
                    G.np_encode_gif(idx, pal, interlace=inter))
                assert (w, h) == (37, 23)
                assert np.array_equal(frames[0], pal[idx]), (n_colors, inter)

    def test_width_growth_and_clear_codes(self):
        """A large 256-color image walks the LZW width 9→12 and takes
        the 4096-entry Clear reset path."""
        from streamprocess_spark.functions import gif as G

        rng = np.random.default_rng(9)
        pal = rng.integers(0, 256, (256, 3)).astype(np.uint8)
        idx = rng.integers(0, 256, (80, 120)).astype(np.uint8)
        raw = G.np_encode_gif(idx, pal)
        assert np.array_equal(G.np_decode_gif(raw)[0][0], pal[idx])
        # compressible content actually shrinks
        flat = np.zeros((80, 120), np.uint8)
        assert len(G.np_encode_gif(flat, pal)) < flat.size // 4

    def test_extensions_skipped_and_totality(self):
        from streamprocess_spark.functions import gif as G

        rng = np.random.default_rng(3)
        pal = rng.integers(0, 256, (8, 3)).astype(np.uint8)
        idx = rng.integers(0, 8, (9, 11)).astype(np.uint8)
        raw = G.np_encode_gif(idx, pal)
        # splice a Graphic Control Extension before the image block
        at = raw.index(b",")
        gce = b"\x21\xf9\x04\x00\x0a\x00\x00\x00"
        spliced = raw[:at] + gce + raw[at:]
        assert np.array_equal(G.np_decode_gif(spliced)[0][0], pal[idx])
        with pytest.raises(ValueError, match="signature"):
            G.np_decode_gif(b"GIF90a" + raw[6:])
        for k in range(0, len(raw), 7):
            with pytest.raises(ValueError):
                G.np_decode_gif(raw[:k])

    def test_partial_frames_composited_on_screen(self):
        """Round-4 advice: animated GIFs with partial sub-rectangle
        frames must composite onto the logical screen at (left, top)
        per the GIF89a disposal model, not decode standalone."""
        import struct

        from streamprocess_spark.functions import gif as G

        pal = np.array(
            [[0, 0, 0], [255, 0, 0], [0, 255, 0], [0, 0, 255]], np.uint8
        )
        full = np.ones((8, 8), np.uint8)             # all red
        raw = bytearray(G.np_encode_gif(full, pal))
        assert raw[-1:] == b";"
        del raw[-1:]                                 # reopen the stream

        def image_block(idx, ix, iy, gce_packed=None, t_index=0):
            blk = bytearray()
            if gce_packed is not None:
                blk += bytes([0x21, 0xF9, 4, gce_packed, 0, 0, t_index, 0])
            ih_, iw_ = idx.shape
            blk += b"," + struct.pack("<HHHH", ix, iy, iw_, ih_) + b"\x00"
            blk += bytes([2])                        # min code size
            lzw = G._lzw_gif_encode(idx.tobytes(), 2)
            for i in range(0, len(lzw), 255):
                blk += bytes([len(lzw[i:i + 255])]) + lzw[i:i + 255]
            blk += b"\x00"
            return bytes(blk)

        # frame 2: 2x2 green patch at (3, 2), disposal 2 (restore bg)
        raw += image_block(
            np.full((2, 2), 2, np.uint8), 3, 2, gce_packed=(2 << 2)
        )
        # frame 3: 2x1 blue+transparent at (0, 0)
        raw += image_block(
            np.array([[3, 0]], np.uint8), 0, 0,
            gce_packed=(0 << 2) | 1, t_index=0,
        )
        raw += b";"

        frames, (w, h) = G.np_decode_gif(bytes(raw))
        assert (w, h) == (8, 8) and len(frames) == 3
        assert np.array_equal(frames[0], pal[full])
        # frame 2 = red screen with the green patch composited in
        want2 = pal[full].copy()
        want2[2:4, 3:5] = [0, 255, 0]
        assert np.array_equal(frames[1], want2)
        # disposal 2 restored the patch rect to background (index 0 =
        # black is the header background); transparent pixel at (0,1)
        # leaves the red canvas; blue lands at (0,0)
        want3 = pal[full].copy()
        want3[2:4, 3:5] = pal[0]
        want3[0, 0] = [0, 0, 255]
        assert np.array_equal(frames[2], want3)

    def test_decode_image_and_ingest_route(self):
        from streamprocess_spark.functions import gif as G
        from streamprocess_spark.io.ingest import make_envelope, sniff_format

        gray = np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)
        img = _block_image()
        raw = G.np_encode_gif(img, gray)
        out = I.decode_image(raw, 200, 150, fmt="GIF")
        assert np.array_equal(out, img)        # identity palette → luma
        assert sniff_format(raw) == ("GIF", "ocr_single", "normal")
        assert make_envelope(raw)["type"] == "ocr_single"
        assert make_envelope(raw[:-9])["type"] == "corrupt_media"


# -------------------------------------------- Matroska container (S15)


class TestMatroska:
    """EBML walk + SimpleBlock demux (functions/matroska.py), with
    real V_MJPEG decode; VP8/VP9/AV1 stay the documented stub."""

    def _mkv(self, nf=5, doctype="matroska"):
        from streamprocess_spark.functions import matroska as MK

        imgs = [np.full((32, 48), 110 + 6 * k, np.uint8) for k in range(nf)]
        frames = [J.np_encode_jpeg_gray(i, 50) for i in imgs]
        return MK.np_build_mkv_mjpeg(frames, 48, 32, fps=10,
                                     doctype=doctype), imgs, frames

    def test_probe_and_decode(self):
        from streamprocess_spark.functions import matroska as MK

        raw, imgs, frames = self._mkv(nf=5)
        p = MK.np_probe_matroska(raw)
        assert p["doctype"] == "matroska" and p["n_blocks"] == 5
        t = p["tracks"][0]
        assert (t["codec"], t["width"], t["height"]) == ("V_MJPEG", 48, 32)
        assert p["duration_ms"] == 500
        pay, _ = MK.np_demux_mkv_mjpeg(raw)
        assert pay == frames                 # byte-exact block payloads
        dec, fps = MK.np_parse_mkv_mjpeg(raw)
        assert fps == 10
        for k, img in enumerate(imgs):
            assert np.array_equal(dec[k], img), k

    def test_webm_doctype_and_codec_stub(self):
        from streamprocess_spark.functions import matroska as MK

        raw, _, _ = self._mkv(doctype="webm")
        assert MK.np_probe_matroska(raw)["doctype"] == "webm"
        at = raw.index(b"V_MJPEG")
        mut = bytearray(raw)
        mut[at:at + 7] = b"V_VP9XX"
        with pytest.raises(NotImplementedError, match="V_VP9XX"):
            MK.np_demux_mkv_mjpeg(bytes(mut))

    def test_totality(self):
        from streamprocess_spark.functions import matroska as MK

        raw, _, _ = self._mkv()
        with pytest.raises(ValueError, match="EBML"):
            MK.np_probe_matroska(b"\x1a\x45\xdf\xa4" + raw[4:])
        for k in range(0, len(raw), 13):
            with pytest.raises((ValueError, NotImplementedError)):
                MK.np_parse_mkv_mjpeg(raw[:k])

    def test_ingest_sniffs_and_routes_mkv(self):
        from streamprocess_spark.io.ingest import make_envelope, sniff_format

        raw, _, _ = self._mkv()
        assert sniff_format(raw) == ("MKV", "video_batch", "low")
        assert make_envelope(raw)["type"] == "video_batch"
        assert make_envelope(raw[:-19])["type"] == "corrupt_media"


# ------------------------------------------------ FLAC container (S15)

from streamprocess_spark.functions import flac as FL


class TestFlac:
    """From-scratch FLAC codec (functions/flac.py): lossless roundtrip,
    real compression, CRC rejection, and decoder paths the encoder
    never emits (LPC, escape partitions, wasted bits) via hand-built
    bitstreams. Reference decodes FLAC via soundfile
    (stt_worker.py:381-394)."""

    def _roundtrip(self, x, block_size=512):
        enc = FL.np_encode_flac(x, sr=16000, block_size=block_size)
        y, sr, ch = FL.np_decode_flac(enc)
        assert sr == 16000 and ch == 1
        ints = np.round(np.asarray(y, dtype=np.float64) * 32768.0)
        assert np.array_equal(ints.astype(np.int64), x.astype(np.int64))
        return enc

    def test_roundtrip_signals(self):
        rng = np.random.default_rng(11)
        self._roundtrip((((np.arange(5000) * 7) % 4001) - 2000).astype(np.int16))
        self._roundtrip(np.full(1000, -123, dtype=np.int16))
        self._roundtrip(rng.integers(-32768, 32768, 3333).astype(np.int16))
        self._roundtrip(np.array([7], dtype=np.int16))
        # full-scale extremes survive
        self._roundtrip(np.array([-32768, 32767, 0, -1], dtype=np.int16))

    def test_actually_compresses(self):
        x = (((np.arange(8000) * 7) % 4001) - 2000).astype(np.int16)
        enc = self._roundtrip(x)
        assert len(enc) < len(x) * 2 * 0.5  # >2x smaller than raw PCM16

    def test_multibyte_utf8_frame_numbers(self):
        # 130 frames of 64 samples → frame numbers past 0x7F (2-byte UTF-8)
        x = (np.arange(64 * 130) % 251 - 125).astype(np.int16)
        self._roundtrip(x, block_size=64)

    def test_md5_signature_real(self):
        import hashlib
        x = np.arange(-50, 50, dtype=np.int16)
        enc = FL.np_encode_flac(x)
        want = hashlib.md5(x.astype("<i2").tobytes()).digest()
        # fLaC(4) + block header(4) + STREAMINFO fixed fields(18) → md5
        assert enc[26:42] == want

    def test_corrupt_frame_crc_rejected(self):
        x = np.arange(-500, 500, dtype=np.int16)
        enc = bytearray(FL.np_encode_flac(x, block_size=256))
        enc[-1] ^= 0xFF  # corrupt the stored frame CRC-16
        with pytest.raises(ValueError, match="CRC"):
            FL.np_decode_flac(bytes(enc))
        enc = bytearray(FL.np_encode_flac(x, block_size=256))
        enc[-10] ^= 0x10  # flip a bit inside the frame body
        with pytest.raises(ValueError):
            FL.np_decode_flac(bytes(enc))

    def test_garbage_and_truncation_rejected(self):
        with pytest.raises(ValueError, match="FLAC"):
            FL.np_decode_flac(b"OggS\x00\x00\x00\x00")
        x = np.arange(2000, dtype=np.int16)
        enc = FL.np_encode_flac(x, block_size=512)
        with pytest.raises(ValueError):
            FL.np_decode_flac(enc[: len(enc) // 2])

    def test_lpc_matches_fixed_recurrence(self):
        # LPC with the order-2 fixed coefficients [2, -1], shift 0 must
        # reproduce _restore_fixed exactly
        rng = np.random.default_rng(3)
        warm = rng.integers(-100, 100, 2)
        resid = rng.integers(-50, 50, 200)
        a = FL._restore_fixed(warm, resid, 2)
        b = FL._restore_lpc(warm, resid, [2, -1], 0)
        assert np.array_equal(a, b)

    # -- hand-built frames for decoder-only paths ----------------------

    def _stream_with_frame(self, frame: bytes, n_samples: int) -> bytes:
        info = bytearray()
        info += (256).to_bytes(2, "big") * 2
        info += (0).to_bytes(3, "big") * 2
        packed = (16000 << 44) | (0 << 41) | (15 << 36) | n_samples
        info += packed.to_bytes(8, "big")
        info += b"\x00" * 16
        return b"fLaC" + b"\x80" + len(info).to_bytes(3, "big") + bytes(info) + frame

    def _frame_header(self, n: int) -> bytes:
        hdr = bytearray([0xFF, 0xF8, (0b0111 << 4) | 0b1101, 0b100 << 1])
        hdr += FL._utf8_encode_number(0)
        hdr += (n - 1).to_bytes(2, "big") + (16000).to_bytes(2, "big")
        hdr.append(FL.crc8(bytes(hdr)))
        return bytes(hdr)

    def _finish(self, bw: FL._BitWriter) -> bytes:
        bw.align()
        body = bw.bytes()
        return body + FL.crc16(body).to_bytes(2, "big")

    def test_escape_partition_and_partition_order(self):
        """Fixed order 0, partition order 1: first partition Rice p=2,
        second partition escaped raw 6-bit — both must decode."""
        n = 8
        vals = np.array([1, -2, 3, 0, -17, 30, -31, 5], dtype=np.int64)
        bw = FL._BitWriter()
        for b in self._frame_header(n):
            bw.write(b, 8)
        bw.write(0b0001000, 7)      # fixed order 0
        bw.write(0, 1)
        bw.write(0b00, 2)           # 4-bit rice method
        bw.write(1, 4)              # partition order 1 → 2 partitions
        bw.write(2, 4)              # partition 1: rice p=2
        FL._write_rice_residual(bw, vals[:4], 2)
        bw.write(15, 4)             # partition 2: escape
        bw.write(6, 5)              # raw width 6
        for v in vals[4:].tolist():
            bw.write(int(v) & 0x3F, 6)
        raw = self._stream_with_frame(self._finish(bw), n)
        y, sr, ch = FL.np_decode_flac(raw)
        assert np.array_equal(np.round(y * 32768).astype(np.int64), vals)

    def test_wasted_bits_shift(self):
        """Constant subframe with 2 wasted bits: decoded value is the
        transmitted constant << 2."""
        n = 4
        bw = FL._BitWriter()
        for b in self._frame_header(n):
            bw.write(b, 8)
        bw.write(0b0000000, 7)      # constant
        bw.write(1, 1)              # wasted-bits flag
        bw.write(0b01, 2)           # unary "01" → k-1=1 → 2 wasted bits
        bw.write(300 & 0x3FFF, 14)  # bps 16 - 2 wasted = 14-bit constant
        raw = self._stream_with_frame(self._finish(bw), n)
        y, _, _ = FL.np_decode_flac(raw)
        assert np.array_equal(
            np.round(y * 32768).astype(np.int64), np.full(4, 300 << 2)
        )

    def test_partition_order_exceeding_block_rejected(self):
        """n=4, FIXED order 4, partition order 2 → first partition would
        hold 1-4=-3 samples; must raise ValueError (dead-letterable),
        not IndexError (would crash the ingest task)."""
        n = 4
        bw = FL._BitWriter()
        for b in self._frame_header(n):
            bw.write(b, 8)
        bw.write(0b0001100, 7)      # FIXED order 4
        bw.write(0, 1)              # no wasted bits
        for v in (1, 2, 3, 4):      # warmup = whole block
            bw.write(v, 16)
        bw.write(0b00, 2)           # 4-bit rice method
        bw.write(2, 4)              # partition order 2 → 4 partitions of 1
        raw = self._stream_with_frame(self._finish(bw), n)
        with pytest.raises(ValueError, match="partition order"):
            FL.np_decode_flac(raw)

    def test_ingest_sniffs_flac(self):
        from streamprocess_spark.io.ingest import sniff_format
        x = np.arange(100, dtype=np.int16)
        fmt, jtype, prio = sniff_format(FL.np_encode_flac(x))
        assert (fmt, jtype, prio) == ("FLAC", "stt_batch", "normal")

    def test_decode_audio_dispatch_resamples(self):
        # 8 kHz FLAC through np_decode_audio lands at 16 kHz
        x = (np.arange(800) % 100 - 50).astype(np.int16)
        enc = FL.np_encode_flac(x, sr=8000)
        y = A.np_decode_audio(enc, "FLAC", target_sr=16000)
        assert len(y) == 1600


# ------------------------------------------------ JPEG container (S15)

from streamprocess_spark.functions import jpeg as J


class TestJpeg:
    """From-scratch baseline JPEG codec (functions/jpeg.py): DC-exact
    constant-block roundtrip, bounded-loss natural images, marker-walk
    rejection paths. Reference decodes JPEG via cv2.imdecode
    (ocr_worker.py:283-308)."""

    def _block_img(self, seed=7, h=120, w=160):
        img = np.zeros((h, w), dtype=np.uint8)
        nbx = w // 8
        for by in range(h // 8):
            for bx in range(w // 8):
                v = 128 + 2 * (((seed + by * nbx + bx) * 13) % 61 - 30)
                img[by * 8:(by + 1) * 8, bx * 8:(bx + 1) * 8] = v
        return img

    def test_constant_blocks_bit_exact(self):
        img = self._block_img()
        enc = J.np_encode_jpeg_gray(img, quality=50)
        assert np.array_equal(J.np_decode_jpeg_gray(enc), img)
        assert len(enc) < img.size // 10  # genuinely compressed

    def test_smooth_image_bounded_loss(self):
        y, x = np.mgrid[0:96, 0:128]
        img = (128 + 80 * np.sin(y / 9) * np.cos(x / 13)).astype(np.uint8)
        dec = J.np_decode_jpeg_gray(J.np_encode_jpeg_gray(img, quality=75))
        assert dec.shape == img.shape
        assert np.abs(dec.astype(int) - img.astype(int)).max() <= 8

    def test_non_multiple_of_8_dims_cropped(self):
        img = (np.arange(37 * 53).reshape(37, 53) % 251).astype(np.uint8)
        dec = J.np_decode_jpeg_gray(J.np_encode_jpeg_gray(img, quality=95))
        assert dec.shape == (37, 53)

    def test_quality_scaling_monotone(self):
        img = self._block_img()
        lo = J.np_encode_jpeg_gray(img, quality=10)
        hi = J.np_encode_jpeg_gray(img, quality=95)
        assert len(lo) < len(hi)
        assert np.array_equal(J.quality_qtable(50), J._QTBL_LUM)

    def test_rejects_garbage_truncation_cmyk_progressive(self):
        img = self._block_img(h=16, w=16)
        enc = J.np_encode_jpeg_gray(img)
        with pytest.raises(ValueError, match="SOI"):
            J.np_decode_jpeg_gray(b"\x00\x01\x02")
        with pytest.raises(ValueError):
            J.np_decode_jpeg_gray(enc[: len(enc) - 8])  # drop entropy tail
        # SOF0 claiming 3 comps but sized for 1 → totality ValueError
        sof_at = enc.index(b"\xFF\xC0")
        mut = bytearray(enc)
        mut[sof_at + 9] = 3
        with pytest.raises(ValueError, match="short SOF"):
            J.np_decode_jpeg_gray(bytes(mut))
        # 4-component (CMYK) → documented rejection
        cimg = np.full((16, 16, 3), 128, np.uint8)
        cenc = J.np_encode_jpeg_color(cimg)
        csof = cenc.index(b"\xFF\xC0")
        mut = bytearray(cenc)
        mut[csof + 9] = 4
        with pytest.raises(NotImplementedError, match="4-component"):
            J.np_decode_jpeg_gray(bytes(mut))
        # flip SOF0 to SOF2: the full-band baseline scan is illegal
        # under a progressive frame (Annex G: DC must be separate) —
        # clean ValueError, and SOF1 (extended sequential) stays the
        # documented NotImplementedError
        mut = bytearray(enc)
        mut[sof_at + 1] = 0xC2
        with pytest.raises(ValueError, match="progressive band"):
            J.np_decode_jpeg_gray(bytes(mut))
        # SOF1 at 8-bit now decodes identically to SOF0
        mut[sof_at + 1] = 0xC1
        assert np.array_equal(J.np_decode_jpeg_gray(bytes(mut)),
                              J.np_decode_jpeg_gray(enc))
        # 12-bit precision stays the documented rejection
        mut12 = bytearray(enc)
        mut12[sof_at + 1] = 0xC1
        mut12[sof_at + 4] = 12
        with pytest.raises(NotImplementedError, match="precision"):
            J.np_decode_jpeg_gray(bytes(mut12))
        # lossless process stays rejected
        mut3 = bytearray(enc)
        mut3[sof_at + 1] = 0xC3
        with pytest.raises(NotImplementedError, match="0xc3"):
            J.np_decode_jpeg_gray(bytes(mut3))

    # -- progressive (SOF2, Annex G) -----------------------------------

    def test_progressive_equals_baseline_gray(self):
        """The progressive scan script delivers the same quantized
        coefficients as baseline, so decode must be bit-identical —
        this exercises spectral selection, successive approximation
        (DC and AC first + refinement) and EOBRUN end-to-end."""
        rng = np.random.default_rng(11)
        for shape in ((16, 16), (24, 40), (17, 23), (8, 8)):
            img = rng.integers(0, 256, shape).astype(np.uint8)
            for q in (50, 90):
                base = J.np_decode_jpeg_gray(J.np_encode_jpeg_gray(img, q))
                prog = J.np_decode_jpeg_gray(
                    J.np_encode_jpeg_gray_progressive(img, q))
                assert np.array_equal(base, prog), (shape, q)

    def test_progressive_equals_baseline_color(self):
        rng = np.random.default_rng(13)
        h, w = 32, 48
        y, cb, cr = (rng.integers(0, 256, (h, w)).astype(np.uint8)
                     for _ in range(3))
        for sub in ("444", "420"):
            base = J.np_decode_jpeg(
                J.np_encode_jpeg_ycbcr(y, cb, cr, 50, sub), "ycbcr")
            prog = J.np_decode_jpeg(
                J.np_encode_jpeg_ycbcr_progressive(y, cb, cr, 50, sub),
                "ycbcr")
            assert np.array_equal(base, prog), sub

    def test_progressive_dc_exact_and_total(self):
        img = self._block_img(h=16, w=16)
        enc = J.np_encode_jpeg_gray_progressive(img, 50)
        assert b"\xFF\xC2" in enc                       # really SOF2
        assert np.array_equal(J.np_decode_jpeg_gray(enc), img)
        for k in range(2, len(enc), 11):               # truncation totality
            with pytest.raises((ValueError, NotImplementedError)):
                J.np_decode_jpeg_gray(enc[:k])

    def test_nonprogressive_multiscan_baseline(self):
        """Non-interleaved baseline (one full-band scan per component)
        decodes identically to the interleaved encoding."""
        rng = np.random.default_rng(17)
        h, w = 16, 16
        y, cb, cr = (rng.integers(0, 256, (h, w)).astype(np.uint8)
                     for _ in range(3))
        inter = J.np_encode_jpeg_ycbcr(y, cb, cr, 50, "444")
        want = J.np_decode_jpeg(inter, "ycbcr")
        # rebuild as three single-component baseline scans
        sos_at = inter.index(b"\xFF\xDA")
        head = inter[:sos_at]
        from streamprocess_spark.functions.jpeg import (
            _StuffWriter, _encode_block, _quant_blocks, _seg,
            quality_qtable, quality_qtable_chroma,
        )
        out = bytearray(head)
        for cid, plane, qt in ((1, y, quality_qtable(50)),
                               (2, cb, quality_qtable_chroma(50)),
                               (3, cr, quality_qtable_chroma(50))):
            out += _seg(0xDA, bytes([1, cid, 0x00, 0, 63, 0]))
            bw = _StuffWriter()
            prev = 0
            for zz in _quant_blocks(plane, qt):
                prev = _encode_block(bw, zz, prev)
            out += bw.flush()
        out += b"\xFF\xD9"
        got = J.np_decode_jpeg(bytes(out), "ycbcr")
        assert np.array_equal(got, want)

    # -- color (YCbCr) paths -------------------------------------------

    def _ycc_planes(self, h=32, w=48):
        """Per-8x8-constant luma (even offsets: exact at luma q00=16)
        and per-16x16-constant chroma (multiples of 17: exact at
        chroma q00=17, and exactly box-downsampled at 4:2:0)."""
        y = np.zeros((h, w), np.uint8)
        cb = np.zeros((h, w), np.uint8)
        cr = np.zeros((h, w), np.uint8)
        for by in range(h // 8):
            for bx in range(w // 8):
                y[by*8:(by+1)*8, bx*8:(bx+1)*8] = \
                    128 + 2 * ((by * 7 + bx * 3) % 50 - 25)
        for ty in range(h // 16):
            for tx in range(w // 16):
                cb[ty*16:(ty+1)*16, tx*16:(tx+1)*16] = \
                    128 + 17 * ((ty + tx) % 5 - 2)
                cr[ty*16:(ty+1)*16, tx*16:(tx+1)*16] = \
                    128 + 17 * ((ty * 2 + tx) % 5 - 2)
        return y, cb, cr

    def test_color_constant_blocks_bit_exact_444_and_420(self):
        y, cb, cr = self._ycc_planes()
        for sub in ("444", "420"):
            enc = J.np_encode_jpeg_ycbcr(y, cb, cr, quality=50, subsample=sub)
            dec = J.np_decode_jpeg(enc, color_space="ycbcr")
            assert np.array_equal(dec[..., 0], y), sub
            assert np.array_equal(dec[..., 1], cb), sub
            assert np.array_equal(dec[..., 2], cr), sub
            # the gray entry point returns the exact Y plane for color
            assert np.array_equal(J.np_decode_jpeg_gray(enc), y), sub

    def test_color_natural_image_bounded_loss(self):
        yy, xx = np.mgrid[0:64, 0:80]
        rgb = np.stack([
            (128 + 80 * np.sin(yy / 9) * np.cos(xx / 13)),
            (128 + 60 * np.cos(yy / 7)),
            (128 + 50 * np.sin(xx / 11)),
        ], axis=-1).astype(np.uint8)
        for sub, tol in (("444", 10), ("420", 24)):
            enc = J.np_encode_jpeg_color(rgb, quality=90, subsample=sub)
            dec = J.np_decode_jpeg(enc)
            assert dec.shape == rgb.shape
            err = np.abs(dec.astype(int) - rgb.astype(int)).max()
            assert err <= tol, (sub, err)
        # odd dims (not MCU multiples) crop correctly
        rgb2 = rgb[:57, :71]
        dec = J.np_decode_jpeg(J.np_encode_jpeg_color(rgb2, 85, "420"))
        assert dec.shape == rgb2.shape

    def test_color_conversion_roundtrip_identities(self):
        # gray pixels survive RGB→YCbCr→RGB exactly (Cb=Cr=128)
        g = np.arange(256, dtype=np.uint8).reshape(16, 16)
        rgb = np.stack([g, g, g], axis=-1)
        ycc = J.rgb_to_ycbcr(rgb)
        assert np.array_equal(ycc[..., 0], g)
        assert np.all(ycc[..., 1] == 128) and np.all(ycc[..., 2] == 128)
        assert np.array_equal(J.ycbcr_to_rgb(ycc), rgb)

    def test_short_segments_raise_value_error(self):
        """Truncated/short segment lengths must raise ValueError (the
        ingest dead-letter boundary), never IndexError."""
        # ln < 2 in an APP0 segment
        with pytest.raises(ValueError, match="truncated JPEG segment"):
            J.np_decode_jpeg_gray(b"\xFF\xD8\xFF\xE0\x00\x01")
        # SOF0 with a 3-byte body (needs >= 9)
        with pytest.raises(ValueError, match="short SOF"):
            J.np_decode_jpeg_gray(b"\xFF\xD8\xFF\xC0\x00\x05\x08\x00\x10")
        # valid stream with the SOS length shortened under the minimum
        enc = J.np_encode_jpeg_gray(self._block_img(h=16, w=16))
        sos_at = enc.index(b"\xFF\xDA")
        mut = bytearray(enc)
        mut[sos_at + 2:sos_at + 4] = b"\x00\x05"
        with pytest.raises(ValueError, match="short SOS"):
            J.np_decode_jpeg_gray(bytes(mut))

    def test_extend_receive_symmetry(self):
        # T.81 F.2.2.1: EXTEND inverts the encoder's magnitude coding
        for v in (-255, -128, -1, 1, 77, 255):
            s = abs(v).bit_length()
            raw = v if v > 0 else v + (1 << s) - 1
            assert J._extend(raw, s) == v

    def test_ingest_sniffs_jpeg(self):
        from streamprocess_spark.io.ingest import sniff_format
        enc = J.np_encode_jpeg_gray(self._block_img(h=16, w=16))
        assert sniff_format(enc) == ("JPEG", "ocr_single", "normal")

    def test_decode_image_dispatch(self):
        img = self._block_img(h=24, w=32)
        enc = J.np_encode_jpeg_gray(img, quality=50)
        out = I.decode_image(enc, 32, 24, fmt="JPEG")
        assert np.array_equal(out, img)
        with pytest.raises(ValueError, match="dims"):
            I.decode_image(enc, 99, 24, fmt="JPEG")


# ----------------------------------------- TIFF + PDF containers (S15)

class TestTiffPdf:
    """From-scratch TIFF reader/writer and PDF image-XObject
    extraction (functions/pdf.py). Reference accepts both on the OCR
    upload path (server.py:354)."""

    def _img(self, h=37, w=53, seed=3):
        return np.random.default_rng(seed).integers(0, 256, (h, w)).astype(np.uint8)

    def test_tiff_roundtrip_both_byte_orders(self):
        img = self._img()
        for be in (False, True):
            raw = I.np_encode_tiff_gray(img, big_endian=be)
            assert np.array_equal(I.np_decode_tiff_gray(raw), img)

    def test_tiff_white_is_zero_inverted(self):
        img = self._img(8, 8)
        raw = bytearray(I.np_encode_tiff_gray(img))
        # photometric tag (262) value lives in the IFD after the pixels;
        # flip 1 -> 0 (WhiteIsZero): find the tag entry and zero it
        at = raw.rfind((262).to_bytes(2, "little"))
        raw[at + 8] = 0
        out = I.np_decode_tiff_gray(bytes(raw))
        assert np.array_equal(out, 255 - img)

    def test_tiff_compressed_roundtrips(self):
        """Compression 5 (LZW) and 32773 (PackBits), both byte orders,
        single- and multi-strip (incl. short last strip)."""
        rng = np.random.default_rng(17)
        # low-entropy page (runs) + high-entropy noise
        page = np.full((23, 37), 255, dtype=np.uint8)
        page[4:9, 3:30] = 0
        noise = rng.integers(0, 256, (23, 37)).astype(np.uint8)
        for img in (page, noise):
            for comp in (5, 32773):
                for be in (False, True):
                    for rps in (None, 7, 1):
                        raw = I.np_encode_tiff_gray(
                            img, big_endian=be, compression=comp,
                            rows_per_strip=rps,
                        )
                        assert np.array_equal(I.np_decode_tiff_gray(raw), img)
        # compressible input actually shrinks (LZW earns its keep)
        flat = I.np_encode_tiff_gray(page, compression=5)
        assert len(flat) < page.size

    def test_lzw_packbits_totality(self):
        """Truncated/garbage compressed strips dead-letter as
        ValueError, never IndexError (ingest totality contract)."""
        data = bytes(np.random.default_rng(3).integers(0, 7, 500, dtype=np.uint8))
        enc = I._lzw_encode(data)
        for k in (0, 1, len(enc) // 2):
            with pytest.raises(ValueError):
                I._lzw_decode(enc[:k], len(data))
        with pytest.raises(ValueError):
            I._packbits_decode(I._packbits_encode(data)[:-2], len(data))
        raw = I.np_encode_tiff_gray(
            np.zeros((16, 16), np.uint8), compression=5)
        for k in range(10, len(raw), 13):
            try:
                I.np_decode_tiff_gray(raw[:k])
            except (ValueError, NotImplementedError):
                pass                     # only clean rejections allowed

    def test_tiff_rejections(self):
        img = self._img(8, 8)
        with pytest.raises(ValueError, match="TIFF"):
            I.np_decode_tiff_gray(b"II+\x00garbage")
        raw = bytearray(I.np_encode_tiff_gray(img))
        at = raw.rfind((259).to_bytes(2, "little"))  # compression tag
        raw[at + 8] = 7                               # JPEG-in-TIFF
        with pytest.raises(NotImplementedError, match="compression"):
            I.np_decode_tiff_gray(bytes(raw))
        with pytest.raises(ValueError):
            I.np_decode_tiff_gray(I.np_encode_tiff_gray(img)[:20])

    def test_pdf_all_filters_roundtrip(self):
        """Every supported /Filter — incl. the LZW reuse of the TIFF
        codec, RLE with its 128 EOD, both ASCII armors, and a
        two-stage chain — reproduces the raster exactly."""
        from streamprocess_spark.functions import pdf as P

        img = self._img(48, 64, seed=21)
        for f in ("FlateDecode", "LZWDecode", "RunLengthDecode",
                  "ASCIIHexDecode", "ASCII85+Flate", None):
            got = P.np_extract_pdf_images(P.np_build_pdf_image(img, f))
            assert len(got) == 1 and np.array_equal(got[0], img), f
        raw = P.np_build_pdf_image(img, "ASCII85+Flate")
        assert b"[/ASCII85Decode /FlateDecode]" in raw
        # totality: any cut before the image stream ends must raise
        # cleanly (cuts after it leave a valid extractable image)
        stream_end = raw.index(b"endstream")
        for k in range(0, stream_end, 37):
            with pytest.raises((ValueError, NotImplementedError)):
                P.np_extract_pdf_images(raw[:k])

    def test_pdf_flate_lossless_and_dct_exact(self):
        from streamprocess_spark.functions import pdf as P

        img = self._img(48, 64, seed=1)
        back = P.np_extract_pdf_images(P.np_build_pdf_image(img, "FlateDecode"))
        assert len(back) == 1 and np.array_equal(back[0], img)
        # constant-block page through DCTDecode → exact via jpeg codec
        vals = (128 + 2 * (((np.arange(12) * 7) % 61) - 30)).astype(np.uint8)
        cb = np.repeat(np.repeat(vals.reshape(3, 4), 8, 0), 8, 1)
        back2 = P.np_extract_pdf_images(P.np_build_pdf_image(cb, "DCTDecode"))
        assert np.array_equal(back2[0], cb)
        back3 = P.np_extract_pdf_images(P.np_build_pdf_image(img, None))
        assert np.array_equal(back3[0], img)

    def test_pdf_rejections(self):
        from streamprocess_spark.functions import pdf as P

        with pytest.raises(ValueError, match="PDF"):
            P.np_extract_pdf_images(b"not a pdf")
        img = self._img(8, 8)
        pdf = P.np_build_pdf_image(img)
        with pytest.raises(NotImplementedError, match="encrypt"):
            P.np_extract_pdf_images(pdf.replace(b"/Root", b"/Encrypt"))
        with pytest.raises(ValueError, match="no image"):
            P.np_extract_pdf_images(b"%PDF-1.4\nno objects here")
        # corrupted Flate payload dead-letters as ValueError
        broken = bytearray(pdf)
        at = broken.find(b"stream\n") + 10
        broken[at] ^= 0xFF
        with pytest.raises(ValueError):
            P.np_extract_pdf_images(bytes(broken))

    def test_ingest_sniffs_tiff_and_pdf(self):
        from streamprocess_spark.functions import pdf as P
        from streamprocess_spark.io.ingest import sniff_format

        img = self._img(8, 8)
        assert sniff_format(I.np_encode_tiff_gray(img))[0] == "TIFF"
        assert sniff_format(I.np_encode_tiff_gray(img, True))[0] == "TIFF"
        fmt, jtype, prio = sniff_format(P.np_build_pdf_image(img))
        assert (fmt, jtype) == ("PDF", "ocr_batch")

    def test_decode_image_dispatch_tiff(self):
        img = self._img(24, 32)
        out = I.decode_image(I.np_encode_tiff_gray(img), 32, 24, fmt="TIFF")
        assert np.array_equal(out, img)
