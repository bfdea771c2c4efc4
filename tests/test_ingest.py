"""Media ingestion edge (S4/S5): upload bytes → sniffed/validated job
envelopes in the priority queue, decodable end-to-end by the same
codecs the pipeline runs."""

from __future__ import annotations

import base64
import json

import numpy as np

from streamprocess_spark.functions import audio as A
from streamprocess_spark.functions import image as I
from streamprocess_spark.functions import video as V
from streamprocess_spark.io.ingest import ingest_bytes, ingest_dir, sniff_format


def _wav() -> bytes:
    x = (0.3 * np.sin(np.arange(1600) * 0.1)).astype(np.float32)
    return A.np_build_wav(A.np_encode_linear16(x), sr=16000)


def _png() -> bytes:
    img = np.full((20, 30), 200, dtype=np.uint8)
    img[5:10, 5:20] = 30
    return I.np_encode_png(img)


def _flac() -> bytes:
    from streamprocess_spark.functions import flac as FL

    x = ((np.arange(1600) * 7) % 2001 - 1000).astype(np.int16)
    return FL.np_encode_flac(x, sr=16000, block_size=512)


def _jpeg() -> bytes:
    from streamprocess_spark.functions import jpeg as J

    img = np.full((24, 32), 130, dtype=np.uint8)
    img[8:16, 8:24] = 70
    return J.np_encode_jpeg_gray(img, quality=50)


def test_sniffers():
    assert sniff_format(_wav())[0] == "WAV"
    assert sniff_format(_png())[0] == "PNG"
    assert sniff_format(_flac())[0] == "FLAC"
    assert sniff_format(_jpeg())[0] == "JPEG"
    assert sniff_format(I.np_encode_bmp(np.zeros((4, 4), np.uint8)))[0] == "BMP"
    assert sniff_format(V.np_build_rawv(np.zeros((1, 4, 4), np.uint8)))[0] == "RAWV"
    assert sniff_format(b"GIF89a....")[0] == "GIF"   # real codec now
    assert sniff_format(b"FORM1234")[0] == "UNKNOWN"
    # RIFF that is neither WAVE nor AVI must not sniff as WAV
    webp = b"RIFF" + (100).to_bytes(4, "little") + b"WEBP" + b"\x00" * 100
    assert sniff_format(webp) == ("UNKNOWN", "unsupported_media", "low")
    # RIFF/AVI sniffs as the AVI container; a body the demuxer rejects
    # still dead-letters rather than crashing
    avi_garbage = b"RIFF" + (100).to_bytes(4, "little") + b"AVI " + b"\x00" * 100
    assert sniff_format(avi_garbage) == ("AVI", "video_batch", "low")
    from streamprocess_spark.io.ingest import make_envelope

    assert make_envelope(avi_garbage)["type"] == "corrupt_media"


def test_ingest_routes_and_validates(tmp_path):
    qdir = str(tmp_path / "q")
    ok = ingest_bytes(qdir, _wav(), name="a.wav", enqueued_at=1.0)
    assert (ok["type"], ok["payload"]["format"]) == ("stt_batch", "WAV")
    img = ingest_bytes(qdir, _png(), name="b.png", enqueued_at=2.0)
    assert img["type"] == "ocr_single"
    fl = ingest_bytes(qdir, _flac(), name="c.flac", enqueued_at=2.5)
    assert (fl["type"], fl["payload"]["format"]) == ("stt_batch", "FLAC")
    jp = ingest_bytes(qdir, _jpeg(), name="d.jpg", enqueued_at=2.7)
    assert (jp["type"], jp["payload"]["format"]) == ("ocr_single", "JPEG")
    bad = ingest_bytes(qdir, _wav()[:20], name="torn.wav", enqueued_at=3.0)
    assert bad["type"] == "corrupt_media" and "error" in bad["payload"]
    # corrupt FLAC (CRC broken) must dead-letter, not crash
    torn_flac = bytearray(_flac())
    torn_flac[-1] ^= 0xFF
    badf = ingest_bytes(qdir, bytes(torn_flac), name="t.flac", enqueued_at=3.5)
    assert badf["type"] == "corrupt_media"
    # garbage behind a real GIF magic → codec rejection → dead-letter
    badg = ingest_bytes(qdir, b"GIF89a" + b"\x00" * 10, enqueued_at=3.8)
    assert badg["type"] == "corrupt_media"
    unk = ingest_bytes(qdir, b"FORM" + b"\x00" * 10, enqueued_at=4.0)
    assert unk["type"] == "unsupported_media"
    # corrupt/unknown jobs land on the low queue, valid media on normal
    lines = open(f"{qdir}/low.jsonl").read().splitlines()
    assert len(lines) == 4
    assert len(open(f"{qdir}/normal.jsonl").read().splitlines()) == 4


def test_end_to_end_through_queue_source(spark, tmp_path):
    """Landing dir → ingest → priority_queue source → b64 decode →
    real codec: the payload that comes OUT of the queue decodes to the
    exact samples that went in (the §3.2 upload lifecycle, engine
    side)."""
    from streamprocess_spark.io.queue_source import register_queue_source

    land = tmp_path / "land"
    land.mkdir()
    wav_bytes = _wav()
    (land / "u1.wav").write_bytes(wav_bytes)
    (land / "u2.png").write_bytes(_png())
    qdir = str(tmp_path / "q")
    jobs = ingest_dir(qdir, str(land), enqueued_at=10.0)
    assert [j["payload"]["filename"] for j in jobs] == ["u1.wav", "u2.png"]

    register_queue_source(spark)
    rows = (
        spark.read.format("priority_queue").option("path", qdir).load()
        .orderBy("seq")
        .collect()
    )
    assert [r["type"] for r in rows] == ["stt_batch", "ocr_single"]
    payload = json.loads(rows[0]["payload"])
    raw = base64.b64decode(payload["content_b64"])
    assert raw == wav_bytes
    y, sr, ch = A.np_parse_wav(raw)
    assert sr == 16000 and len(y) == 1600


# ---------------------------------------------------------------------------
# Round-4 verdict #4: one e2e case per _SNIFFERS entry (valid AND a
# corrupt variant) so every codec's validation path is proven on the
# landing edge, not just in unit tests.
# ---------------------------------------------------------------------------

import pytest


def _img24x32() -> "np.ndarray":
    return np.full((24, 32), 130, dtype=np.uint8)


def _mjpeg_frames() -> list:
    from streamprocess_spark.functions import jpeg as J

    return [J.np_encode_jpeg_gray(_img24x32(), quality=50)]


def _gray_pal() -> "np.ndarray":
    return np.repeat(np.arange(256, dtype=np.uint8)[:, None], 3, axis=1)


def _fix_flac_flip() -> bytes:
    raw = bytearray(_flac())
    raw[-1] ^= 0xFF                               # frame CRC broken
    return bytes(raw)


def _tiff(be: bool) -> bytes:
    return I.np_encode_tiff_gray(_img24x32(), big_endian=be)


def _pdf() -> bytes:
    from streamprocess_spark.functions import pdf as P

    return P.np_build_pdf_image(_img24x32())


def _bmp() -> bytes:
    return I.np_encode_bmp(_img24x32())


def _rawv() -> bytes:
    return V.np_build_rawv(np.zeros((2, 8, 8), np.uint8))


def _opus() -> bytes:
    from streamprocess_spark.functions import ogg_opus as OO

    return OO.np_build_ogg_opus(6)


def _mkv() -> bytes:
    from streamprocess_spark.functions import matroska as MK

    return MK.np_build_mkv_mjpeg(_mjpeg_frames(), 32, 24, fps=10)


def _gif(version: bytes) -> bytes:
    from streamprocess_spark.functions import gif as G

    return G.np_encode_gif(_img24x32(), _gray_pal(), version=version)


def _avi() -> bytes:
    return V.np_build_avi_mjpeg(_mjpeg_frames(), 32, 24, fps=10)


def _mp4() -> bytes:
    from streamprocess_spark.functions import mp4 as M4

    return M4.np_build_mp4_mjpeg(_mjpeg_frames(), 32, 24, fps=10)


def _mp3(id3: bool = False) -> bytes:
    from streamprocess_spark.functions import mpeg_audio as MA

    return MA.np_build_mpeg_frames(6, id3_title="x" if id3 else None)


def _h264() -> bytes:
    from streamprocess_spark.functions.h264 import np_build_h264_ipcm

    return np_build_h264_ipcm([_img24x32(), _img24x32()])


def _zip() -> bytes:
    import io
    import zipfile

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.wav", _wav())
        z.writestr("b.png", _png())
    return buf.getvalue()


def _zip_flip() -> bytes:
    raw = bytearray(_zip())
    raw[40] ^= 0xFF  # corrupt a member payload byte -> CRC mismatch
    return bytes(raw)


def _warc(gz: bool = False) -> bytes:
    from streamprocess_spark.functions.warc import np_build_warc

    return np_build_warc([
        {"warc_type": "warcinfo", "record_id": "uuid:0",
         "date": "2026-08-14T00:00:00Z", "body": b"software: t\r\n"},
        {"warc_type": "response", "record_id": "uuid:1",
         "date": "2026-08-14T00:00:01Z", "target_uri": "http://e.com/a",
         "http_status": 200, "http_content_type": "text/html",
         "body": b"<html>hi</html>"},
    ], gzip_members=gz)


# (case_id, valid_builder, expected_fmt, expected_type, expected_prio,
#  corrupt_builder) — corrupt keeps the magic so the SNIFF succeeds and
# the CODEC must reject (truncation / garbage body / broken CRC)
_EDGE_CASES = [
    ("wav", _wav, "WAV", "stt_batch", "normal",
     lambda: _wav()[:12] + b"\x00" * 64),
    ("flac", _flac, "FLAC", "stt_batch", "normal", _fix_flac_flip),
    ("png", _png, "PNG", "ocr_single", "normal",
     lambda: _png()[:12] + b"\x00" * 64),
    ("jpeg", _jpeg, "JPEG", "ocr_single", "normal",
     lambda: _jpeg()[:12] + b"\x00" * 64),
    ("tiff_le", lambda: _tiff(False), "TIFF", "ocr_single", "normal",
     lambda: _tiff(False)[:4] + b"\xff" * 64),
    ("tiff_be", lambda: _tiff(True), "TIFF", "ocr_single", "normal",
     lambda: _tiff(True)[:4] + b"\xff" * 64),
    ("pdf", _pdf, "PDF", "ocr_batch", "normal",
     lambda: _pdf()[:12] + b"\x00" * 64),
    ("bmp", _bmp, "BMP", "ocr_single", "normal",
     lambda: _bmp()[:12] + b"\x00" * 64),
    ("rawv", _rawv, "RAWV", "video_batch", "low",
     lambda: _rawv()[:-5]),                       # torn frame payload
    ("opus", _opus, "OPUS", "stt_batch", "normal",
     lambda: _opus()[:12] + b"\x00" * 64),        # page CRC broken
    ("mkv", _mkv, "MKV", "video_batch", "low",
     lambda: _mkv()[:12] + b"\x00" * 64),         # EBML VINT garbage
    ("gif87", lambda: _gif(b"GIF87a"), "GIF", "ocr_single", "normal",
     lambda: _gif(b"GIF87a")[:12] + b"\x00" * 64),
    ("gif89", lambda: _gif(b"GIF89a"), "GIF", "ocr_single", "normal",
     lambda: _gif(b"GIF89a")[:12] + b"\x00" * 64),
    ("pnm_p5", lambda: I.np_encode_pnm(_img24x32()), "PNM", "ocr_single",
     "normal", lambda: b"P5\n" + b"\x00" * 64),
    ("pnm_p6", lambda: I.np_encode_pnm(np.zeros((4, 4, 3), np.uint8)),
     "PNM", "ocr_single", "normal", lambda: b"P6\n" + b"\x00" * 64),
    ("pnm_p2", lambda: b"P2\n3 2\n255\n10 20 30\n40 50 60\n", "PNM",
     "ocr_single", "normal", lambda: b"P2\n" + b"\x00" * 64),
    ("pnm_p3", lambda: b"P3\n2 1\n255\n1 2 3 4 5 6\n", "PNM",
     "ocr_single", "normal", lambda: b"P3\n" + b"\x00" * 64),
    ("avi", _avi, "AVI", "video_batch", "low",
     lambda: _avi()[:12] + b"\x00" * 64),
    ("mp4", _mp4, "MP4", "video_batch", "low",
     lambda: _mp4()[:12] + b"\x00" * 64),
    ("mp3", _mp3, "MP3", "stt_batch", "normal",
     lambda: _mp3()[:-10]),                       # torn last frame
    ("mp3_id3", lambda: _mp3(id3=True), "MP3", "stt_batch", "normal",
     lambda: _mp3(id3=True)[:-10]),
    ("warc", _warc, "WARC", "text_batch", "normal",
     lambda: _warc()[:-20]),                      # torn record tail
    ("warc_gz", lambda: _warc(gz=True), "WARC", "text_batch", "normal",
     lambda: _warc(gz=True)[:-8]),                # torn gzip member
    ("zip", lambda: _zip(), "ZIP", "archive_batch", "normal",
     lambda: _zip_flip()),                        # member CRC broken
    ("h264", lambda: _h264(), "H264", "video_batch", "low",
     lambda: _h264()[:-40]),                      # torn PCM samples
]





@pytest.mark.parametrize(
    "case_id,valid,fmt,jtype,prio,corrupt",
    _EDGE_CASES,
    ids=[c[0] for c in _EDGE_CASES],
)
def test_every_sniffer_edge_to_edge(tmp_path, case_id, valid, fmt, jtype,
                                    prio, corrupt):
    """Every sniffable format lands end-to-end: the valid fixture
    enqueues with the right (format, type, priority) and its payload
    survives the b64 round-trip; the corrupt variant (magic intact,
    body the codec must reject) dead-letters as corrupt_media on the
    low queue instead of crashing the edge."""
    from streamprocess_spark.io.ingest import make_envelope

    qdir = str(tmp_path / f"q_{case_id}")
    raw = valid()
    job = ingest_bytes(qdir, raw, name=f"f.{case_id}", enqueued_at=1.0)
    assert job["payload"]["format"] == fmt
    assert (job["type"], job["priority"]) == (jtype, prio)
    got = json.loads(
        open(f"{qdir}/{prio}.jsonl").read().splitlines()[-1]
    )
    assert base64.b64decode(got["payload"]["content_b64"]) == raw

    bad = make_envelope(corrupt())
    assert bad["payload"]["format"] == fmt, case_id
    assert bad["type"] == "corrupt_media", case_id
    assert bad["priority"] == "low" and bad["payload"]["error"], case_id


def test_document_url_oneof_round_trip(tmp_path, spark):
    """Round-4 verdict #7: the DocumentRequest oneof
    (image_content | document_url) completed behind a pluggable fetch
    boundary — mocked fetch → sniff → validate → queue round-trip, and
    every failure branch dead-letters instead of crashing."""
    from streamprocess_spark.io.ingest import (
        ingest_document_job,
        register_fetcher,
        resolve_document_job,
    )
    from streamprocess_spark.io.queue_source import register_queue_source

    qdir = str(tmp_path / "q")
    png = _png()

    # inline bytes leg (ocr_worker.py:287-293, incl. the b64 wire shape)
    env = resolve_document_job({"image_content": png})
    assert (env["type"], env["payload"]["format"]) == ("ocr_single", "PNG")
    env_b64 = resolve_document_job(
        {"image_content": base64.b64encode(png).decode()}
    )
    assert env_b64["payload"]["content_b64"] == env["payload"]["content_b64"]

    # file:// fetcher is real; the envelope carries the source URL
    p = tmp_path / "doc.png"
    p.write_bytes(png)
    env = ingest_document_job(
        qdir, {"document_url": f"file://{p}"}, enqueued_at=1.0
    )
    assert (env["type"], env["payload"]["format"]) == ("ocr_single", "PNG")
    assert env["payload"]["document_url"].endswith("doc.png")
    assert base64.b64decode(env["payload"]["content_b64"]) == png

    # mock-first pluggable scheme (the inference-module pattern)
    register_fetcher("mock", lambda url: _wav())
    env = ingest_document_job(
        qdir, {"document_url": "mock://bucket/a.wav"}, enqueued_at=2.0
    )
    assert (env["type"], env["payload"]["format"]) == ("stt_batch", "WAV")

    # failure branches: unknown scheme / missing file / malformed oneof
    bad = ingest_document_job(
        qdir, {"document_url": "s3://nope/x.png"}, enqueued_at=3.0
    )
    assert bad["type"] == "fetch_failed" and "s3" in bad["payload"]["error"]
    bad = resolve_document_job({"document_url": f"file://{tmp_path}/gone"})
    assert bad["type"] == "fetch_failed"
    assert resolve_document_job({})["type"] == "malformed_job"
    assert resolve_document_job(
        {"image_content": png, "document_url": "file:///x"}
    )["type"] == "malformed_job"

    # fetched jobs flow through the same priority_queue source
    register_queue_source(spark)
    rows = (
        spark.read.format("priority_queue").option("path", qdir).load()
        .collect()
    )
    types = sorted(r["type"] for r in rows)
    assert types == ["fetch_failed", "ocr_single", "stt_batch"]



def test_archive_explodes_into_member_jobs():
    """One ZIP upload becomes one envelope per member, each routed by
    its own sniffed format; garbage members dead-letter individually;
    non-archives pass through as their single envelope."""
    import io
    import zipfile

    from streamprocess_spark.io.ingest import explode_archive

    buf = io.BytesIO()
    with zipfile.ZipFile(buf, "w") as z:
        z.writestr("a.wav", _wav())
        z.writestr("scans/b.png", _png())
        z.writestr("junk.bin", b"\x00garbage")
    members = explode_archive(buf.getvalue(), name="up.zip")
    got = [(m["payload"]["filename"], m["type"], m["payload"]["format"])
           for m in members]
    assert got == [
        ("up.zip!a.wav", "stt_batch", "WAV"),
        ("up.zip!scans/b.png", "ocr_single", "PNG"),
        ("up.zip!junk.bin", "unsupported_media", "UNKNOWN"),
    ]
    assert all(m["payload"]["archive"] == "up.zip" for m in members)

    passthrough = explode_archive(_wav())
    assert [m["payload"]["format"] for m in passthrough] == ["WAV"]

    corrupt = explode_archive(_zip_flip(), name="bad.zip")
    assert [m["type"] for m in corrupt] == ["corrupt_media"]


# ---------------------------------------------------------------------------
# q151 S4 evidence glue: the Catalyst CASE chain (sniff_case_hex) and
# the DuckDB CASE (sniff_case_sql) must both agree with the REAL
# Python sniffer on its prefix-decidable surface. The three content
# heuristics (gzip-member WARC peek, H.264 NAL walk, MPEG frame sync)
# are deliberately absent from the hex form and masked here.
# ---------------------------------------------------------------------------


def test_sniff_case_hex_matches_python_sniffer(spark):
    import random

    import duckdb
    from pyspark.sql import functions as F

    from streamprocess_spark.functions.h264 import looks_like_annexb_h264
    from streamprocess_spark.functions.mpeg_audio import looks_like_mpeg_audio
    from streamprocess_spark.io.ingest import (
        sniff_case_hex,
        sniff_case_sql,
        sniff_fixture_heads,
    )

    rng = random.Random(151)
    heads = sniff_fixture_heads()
    payloads = []
    # every fixture head (the q151 corpus, several tails each), then
    # random heads to probe rule boundaries the fixtures don't hit
    for i in range(4 * len(heads)):
        payloads.append(
            bytes.fromhex(heads[i % len(heads)])
            + bytes(rng.randrange(256) for _ in range(16))
        )
    for _ in range(400):
        payloads.append(
            bytes(rng.randrange(256) for _ in range(rng.randrange(0, 20)))
        )
    rows, masked = [], 0
    for i, p in enumerate(payloads):
        if (
            p[:2] == b"\x1f\x8b"
            or looks_like_annexb_h264(p)
            or looks_like_mpeg_audio(p)
        ):
            masked += 1
            continue
        fmt, jtype, prio = sniff_format(p)
        rows.append((i, p.hex(), fmt, jtype, prio))
    # the masked heuristic surface must stay a small minority — if it
    # grows, the hex form no longer evidences the decision table
    assert masked < len(payloads) * 0.2, masked
    assert len(rows) > 4 * len(heads)

    df = spark.createDataFrame(
        rows, "i int, hexp string, fmt string, jtype string, prio string"
    )
    got = df.select(
        "i", "fmt", "jtype", "prio",
        sniff_case_hex(F.col("hexp")).alias("v"),
    ).collect()
    assert len(got) == len(rows)
    for r in got:
        assert (
            r["v"]["fmt"], r["v"]["job_type"], r["v"]["priority"]
        ) == (r["fmt"], r["jtype"], r["prio"]), (r["i"], r["v"])

    # and the DuckDB rendering of the same table agrees row-for-row
    cases = sniff_case_sql("hexp")
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t (i INT, hexp VARCHAR, fmt VARCHAR, "
        "jtype VARCHAR, prio VARCHAR)"
    )
    con.executemany("INSERT INTO t VALUES (?, ?, ?, ?, ?)", rows)
    bad = con.execute(
        f"SELECT i FROM t WHERE {cases['fmt']} <> fmt "
        f"OR {cases['job_type']} <> jtype OR {cases['priority']} <> prio"
    ).fetchall()
    assert bad == [], bad


def test_oneof_route_rules_match_resolver(tmp_path):
    """q152's engine-expressible dispatch table must agree with the
    REAL resolve_document_job on every branch: oneof violations,
    inline, registered-scheme dispatch (a real file:// fetch),
    unregistered schemes and scheme-less URLs (fetch_failed with
    job_id = md5(url)[:16])."""
    import hashlib as _hl

    from streamprocess_spark.io.ingest import (
        oneof_route_rules,
        resolve_document_job,
    )

    r = oneof_route_rules()
    assert "file" in r["schemes"]

    f = tmp_path / "doc.wav"
    f.write_bytes(_wav())
    cases = [
        # (job, expected engine route)
        ({"image_content": _wav()}, "inline_envelope"),
        ({"document_url": f"file://{f}"}, "dispatch:file"),
        ({"document_url": f"FILE://{f}"}, "dispatch:file"),
        ({"document_url": "s3://bucket/x.bin"}, "fetch_failed"),
        ({"document_url": "http://host/x.bin"}, "fetch_failed"),
        ({"document_url": "relative/x.bin"}, "fetch_failed"),
        ({"image_content": _wav(), "document_url": "file:///x"},
         "malformed_job"),
        ({}, "malformed_job"),
    ]
    for job, route in cases:
        env = resolve_document_job(dict(job))
        if route == "malformed_job":
            assert env["type"] == r["malformed"][0], job
            assert env["priority"] == r["malformed"][1]
        elif route == "fetch_failed":
            assert env["type"] == r["failed"][0], job
            assert env["priority"] == r["failed"][1]
            url = job["document_url"]
            assert env["job_id"] == _hl.md5(url.encode()).hexdigest()[:16]
        else:
            # dispatch/inline: the resolver produced a REAL envelope
            # (priority comes from the sniff, not the routing layer)
            assert env["type"] not in (r["malformed"][0], r["failed"][0]), job
            assert env["payload"]["format"] == "WAV"
