"""Media ingestion edge (SURVEY §2.1 S4/S5): the engine-side half of
the reference's upload paths.

The reference's REST upload (`POST /stt/upload`, src/api/main.py:
146-218) and WebSocket bridge (`/ws/stt`, :336-400) read client bytes,
wrap them in a job envelope, and enqueue to the priority queue; the
HTTP/WS transport itself is out of engine scope (SURVEY §2.1). This
module is everything after the socket: format sniffing, validation
through the real codecs, envelope assembly (`server.py:99-108,150-158`
job dicts), and the `add_job` append — so a file dropped into a
landing directory flows into the exact same `priority_queue` source
the streaming pipeline reads.

Formats are sniffed from magic bytes, never extensions (the reference
trusts `AudioEncoding`/image sniffing, not names). Unknown payloads
are enqueued as `unsupported_media` at low priority rather than
dropped — the dead-letter-adjacent behavior of R3's unknown-type
branch (stt_worker.py:115-137: unknown → nack, no retry).

Payload bytes travel base64-inside-JSON, the reference's own wire
shape for media in job envelopes (ocr_worker.py:289-291 decodes
base64 image_content).
"""

from __future__ import annotations

import base64
import hashlib
import os

from streamprocess_spark.io.queue_source import enqueue_job

# magic-byte sniffers → (format tag, job type, default priority)
_SNIFFERS = (
    (b"RIFF", "WAV", "stt_batch", "normal"),          # + WAVE check below
    (b"fLaC", "FLAC", "stt_batch", "normal"),
    (b"\x89PNG\r\n\x1a\n", "PNG", "ocr_single", "normal"),
    (b"\xff\xd8\xff", "JPEG", "ocr_single", "normal"),
    (b"II*\x00", "TIFF", "ocr_single", "normal"),
    (b"MM\x00*", "TIFF", "ocr_single", "normal"),
    (b"%PDF-", "PDF", "ocr_batch", "normal"),
    (b"BM", "BMP", "ocr_single", "normal"),
    (b"RAWV", "RAWV", "video_batch", "low"),
    (b"OggS", "OPUS", "stt_batch", "normal"),
    (b"\x1a\x45\xdf\xa3", "MKV", "video_batch", "low"),
    (b"GIF87a", "GIF", "ocr_single", "normal"),
    (b"GIF89a", "GIF", "ocr_single", "normal"),
    (b"P5", "PNM", "ocr_single", "normal"),   # + whitespace check below
    (b"P6", "PNM", "ocr_single", "normal"),
    (b"P2", "PNM", "ocr_single", "normal"),
    (b"P3", "PNM", "ocr_single", "normal"),
    # ZIP upload batches: one archive = many member jobs (see
    # explode_archive); the archive itself validates member CRCs
    (b"PK\x03\x04", "ZIP", "archive_batch", "normal"),
)


def sniff_format(raw: bytes) -> tuple[str, str, str]:
    """(format, job_type, priority) from magic bytes; unknown payloads
    degrade to ('UNKNOWN', 'unsupported_media', 'low')."""
    for magic, fmt, jtype, prio in _SNIFFERS:
        if raw[: len(magic)] == magic:
            if fmt == "PNM" and not raw[2:3].isspace():
                continue  # "P5..." without whitespace is not netpbm
            if fmt == "WAV" and raw[8:12] != b"WAVE":
                if raw[8:12] == b"AVI ":          # RIFF/AVI container
                    return "AVI", "video_batch", "low"
                continue  # RIFF but neither WAVE nor AVI → unknown
            return fmt, jtype, prio
    # WARC (ISO 28500) — the Common Crawl training-data format; crawl
    # archives usually arrive as concatenated per-record gzip members,
    # so a gzip magic gets its first member peeked for the WARC line
    if raw[:5] == b"WARC/":
        return "WARC", "text_batch", "normal"
    if raw[:2] == b"\x1f\x8b":
        import zlib

        try:
            head = zlib.decompressobj(wbits=31).decompress(raw, 5)
        except zlib.error:
            head = b""
        if head[:5] == b"WARC/":
            return "WARC", "text_batch", "normal"
    # H.264 Annex B elementary stream: start code + a sane NAL header
    from streamprocess_spark.functions.h264 import looks_like_annexb_h264

    if looks_like_annexb_h264(raw):
        return "H264", "video_batch", "low"
    # MP4/ISO-BMFF: the ftyp magic sits at offset 4, not 0
    if raw[4:8] == b"ftyp":
        return "MP4", "video_batch", "low"
    # MPEG audio has no fixed magic: ID3v2 tag or a frame sync at 0
    from streamprocess_spark.functions.mpeg_audio import looks_like_mpeg_audio

    if looks_like_mpeg_audio(raw):
        return "MP3", "stt_batch", "normal"
    return "UNKNOWN", "unsupported_media", "low"


# ---------------------------------------------------------------------------
# Engine-expressible form of the sniffer decision table (S4 evidence).
#
# sniff_format's PREFIX rules — the _SNIFFERS table plus the PNM
# whitespace guard, the RIFF WAVE/AVI discrimination, the WARC version
# line, and the offset-4 ftyp — are pure byte-prefix predicates, so the
# whole decision table can run as a Catalyst CASE chain (and a DuckDB
# oracle) over hex-encoded payloads. q151_sniffer_verdicts uses this to
# give the upload edge driver-grade cross-engine evidence. The three
# CONTENT heuristics (gzip-member WARC peek, H.264 Annex-B NAL walk,
# MPEG frame sync) need real decoding and deliberately stay Python-only;
# the differential test masks them and pins everything else bit-equal
# to sniff_format (tests/test_ingest.py).
# ---------------------------------------------------------------------------

# hex codes of bytes accepted by bytes.isspace() — the PNM guard
_WS_HEX = ("20", "09", "0a", "0d", "0b", "0c")


def _sniff_rules() -> list[tuple[list[tuple[int, tuple[str, ...]]], str, str, str]]:
    """The sniffer decision table as data: ordered rows of
    (checks, fmt, job_type, priority) where each check is
    (1-based hex-char position, acceptable hex values). Generated from
    the production _SNIFFERS tuple so the engine-expressible form can
    never drift from sniff_format's magic table."""
    rules = []
    for magic, fmt, jtype, prio in _SNIFFERS:
        head = (1, (magic.hex(),))
        if fmt == "WAV":
            # RIFF subtype at bytes 9..12: WAVE -> WAV, 'AVI ' -> AVI,
            # anything else falls through (sniff_format's continue)
            rules.append(([head, (17, ("57415645",))], "WAV", jtype, prio))
            rules.append(([head, (17, ("41564920",))], "AVI", "video_batch", "low"))
        elif fmt == "PNM":
            rules.append(([head, (5, _WS_HEX)], fmt, jtype, prio))
        else:
            rules.append(([head], fmt, jtype, prio))
    rules.append(([(1, (b"WARC/".hex(),))], "WARC", "text_batch", "normal"))
    rules.append(([(9, (b"ftyp".hex(),))], "MP4", "video_batch", "low"))
    return rules


_SNIFF_UNKNOWN = ("UNKNOWN", "unsupported_media", "low")


def sniff_case_hex(col):
    """Spark struct(fmt, job_type, priority) CASE chain replaying the
    sniffer decision table over a lowercase-hex payload column."""
    from pyspark.sql import functions as F

    def _check(pos: int, values: tuple[str, ...]):
        sub = F.substring(col, pos, len(values[0]))
        return sub.isin(*values) if len(values) > 1 else sub == F.lit(values[0])

    def _verdict(fmt: str, jtype: str, prio: str):
        return F.struct(
            F.lit(fmt).alias("fmt"),
            F.lit(jtype).alias("job_type"),
            F.lit(prio).alias("priority"),
        )

    expr = None
    for checks, fmt, jtype, prio in _sniff_rules():
        cond = None
        for pos, values in checks:
            c = _check(pos, values)
            cond = c if cond is None else cond & c
        v = _verdict(fmt, jtype, prio)
        expr = F.when(cond, v) if expr is None else expr.when(cond, v)
    return expr.otherwise(_verdict(*_SNIFF_UNKNOWN))


def sniff_case_sql(payload: str) -> dict[str, str]:
    """The same decision table as three DuckDB CASE expressions keyed
    fmt / job_type / priority, over a hex payload SQL expression."""
    conds = []
    for checks, fmt, jtype, prio in _sniff_rules():
        parts = []
        for pos, values in checks:
            n = len(values[0])
            if len(values) > 1:
                opts = ", ".join(f"'{v}'" for v in values)
                parts.append(f"substr({payload}, {pos}, {n}) IN ({opts})")
            else:
                parts.append(f"substr({payload}, {pos}, {n}) = '{values[0]}'")
        conds.append((" AND ".join(parts), (fmt, jtype, prio)))
    out = {}
    for i, key in enumerate(("fmt", "job_type", "priority")):
        whens = "\n".join(
            f"WHEN {c} THEN '{verdict[i]}'" for c, verdict in conds
        )
        out[key] = f"CASE {whens} ELSE '{_SNIFF_UNKNOWN[i]}' END"
    return out


def sniff_fixture_heads() -> list[str]:
    """Deterministic payload heads (hex) covering every decision row:
    one matching head per _SNIFFERS row (with the WAVE subtype / PNM
    whitespace completions), plus the edge rows — RIFF/AVI, RIFF with
    neither subtype (falls through to UNKNOWN), PNM magic without the
    whitespace guard (UNKNOWN), the WARC version line, offset-4 ftyp,
    and a plain UNKNOWN."""
    heads = []
    for magic, fmt, _jtype, _prio in _SNIFFERS:
        if fmt == "WAV":
            heads.append((magic + b"\x24\x08\x00\x00" + b"WAVE").hex())
        elif fmt == "PNM":
            heads.append((magic + b"\x0a").hex())
        else:
            heads.append(magic.hex())
    heads += [
        (b"RIFF" + b"\x10\x00\x00\x00" + b"AVI ").hex(),
        (b"RIFF" + b"\x10\x00\x00\x00" + b"JUNK").hex(),
        b"P5Q".hex(),
        b"WARC/1.1\r\n".hex(),
        (b"\x00\x00\x00\x18ftypisom").hex(),
        b"ZZZZ".hex(),
    ]
    return heads


def _validate(raw: bytes, fmt: str) -> tuple[bool, str]:
    """Run the payload through the real decoder — an envelope should
    never carry bytes the pipeline will later crash on (the upload
    edge's 400-before-enqueue behavior, api/main.py:162-168)."""
    try:
        if fmt == "WAV":
            from streamprocess_spark.functions.audio import np_parse_wav

            np_parse_wav(raw)
        elif fmt == "FLAC":
            from streamprocess_spark.functions.flac import np_decode_flac

            np_decode_flac(raw)
        elif fmt == "PNG":
            from streamprocess_spark.functions.image import np_decode_png

            np_decode_png(raw)
        elif fmt == "BMP":
            from streamprocess_spark.functions.image import np_decode_bmp

            np_decode_bmp(raw)
        elif fmt == "JPEG":
            from streamprocess_spark.functions.jpeg import np_decode_jpeg_gray

            np_decode_jpeg_gray(raw)
        elif fmt == "TIFF":
            from streamprocess_spark.functions.image import np_decode_tiff_gray

            np_decode_tiff_gray(raw)
        elif fmt == "PDF":
            from streamprocess_spark.functions.pdf import np_extract_pdf_images

            np_extract_pdf_images(raw)
        elif fmt == "RAWV":
            from streamprocess_spark.functions.video import np_parse_rawv

            np_parse_rawv(raw)
        elif fmt == "MP3":
            # full frame walk validates every header; PCM decode stays
            # the documented stub (functions/mpeg_audio.py docstring)
            from streamprocess_spark.functions.mpeg_audio import (
                np_probe_mpeg_audio,
            )

            np_probe_mpeg_audio(raw)
        elif fmt == "AVI":
            from streamprocess_spark.functions.video import np_parse_avi_mjpeg

            np_parse_avi_mjpeg(raw)
        elif fmt == "MP4":
            # full box walk + sample-table consistency; 'jpeg' and
            # 'avc1' (H.264 I_PCM subset) tracks decode for real,
            # other codecs NotImplementedError → dead-letter
            from streamprocess_spark.functions.mp4 import np_parse_mp4_video

            np_parse_mp4_video(raw)
        elif fmt == "PNM":
            from streamprocess_spark.functions.image import np_decode_pnm

            np_decode_pnm(raw)
        elif fmt == "GIF":
            from streamprocess_spark.functions.gif import np_decode_gif

            np_decode_gif(raw)
        elif fmt == "MKV":
            # EBML walk + track/block validation; V_MJPEG and
            # V_MPEG4/ISO/AVC (H.264 I_PCM subset) decode for real,
            # VP8/VP9/AV1 NotImplementedError → dead-letter
            from streamprocess_spark.functions.matroska import (
                np_parse_mkv_video,
            )

            np_parse_mkv_video(raw)
        elif fmt == "H264":
            # full NAL walk + SPS/PPS + macroblock decode: I_PCM and
            # Intra_16x16 CAVLC (sparse-residual subset); I_NxN /
            # inter / CABAC -> dead-letter
            from streamprocess_spark.functions.h264_islice import (
                np_decode_h264_islice,
            )

            np_decode_h264_islice(raw)
        elif fmt == "ZIP":
            import io as _io
            import zipfile

            try:
                with zipfile.ZipFile(_io.BytesIO(raw)) as z:
                    names = z.namelist()
                    if not names:
                        raise ValueError("empty ZIP archive")
                    bad = z.testzip()   # CRC-checks every member
                    if bad is not None:
                        raise ValueError(f"ZIP member CRC mismatch: {bad}")
            except zipfile.BadZipFile as e:
                raise ValueError(f"bad ZIP archive: {e}") from None
        elif fmt == "WARC":
            # full record walk: version lines, header fields,
            # Content-Length framing, HTTP response splits; truncated
            # or malformed archives → dead-letter
            from streamprocess_spark.functions.warc import np_parse_warc

            np_parse_warc(raw)
        elif fmt == "OPUS":
            # page walk + CRC + OpusHead/TOC validate every byte; PCM
            # stays the documented stub (functions/ogg_opus.py)
            from streamprocess_spark.functions.ogg_opus import (
                np_probe_ogg_opus,
            )

            np_probe_ogg_opus(raw)
        return True, ""
    except (ValueError, NotImplementedError) as e:
        return False, str(e)


def make_envelope(raw: bytes, *, name: str = "", enqueued_at: float = 0.0) -> dict:
    """Pure envelope assembly: sniff, validate, wrap. No I/O — safe to
    run inside executor UDFs as well as the driver-side enqueue path.
    `type='corrupt_media'` routes low when validation fails —
    dead-letter, not dropped. Deterministic: job_id
    is a content hash, timestamps are caller-supplied."""
    fmt, jtype, prio = sniff_format(raw)
    ok, err = _validate(raw, fmt) if fmt != "UNKNOWN" else (False, "unknown format")
    if not ok and fmt != "UNKNOWN":
        jtype, prio = "corrupt_media", "low"
    return {
        "job_id": hashlib.md5(raw).hexdigest()[:16],
        "type": jtype,
        "priority": prio,
        "enqueued_at": float(enqueued_at),
        "payload": {
            "filename": name,
            "format": fmt,
            "size_bytes": len(raw),
            "content_b64": base64.b64encode(raw).decode("ascii"),
            **({"error": err} if not ok else {}),
        },
    }


def explode_archive(raw: bytes, *, name: str = "",
                    enqueued_at: float = 0.0) -> list[dict]:
    """One uploaded archive -> one envelope per member, each member
    re-sniffed and validated through its own codec (a ZIP of scans
    becomes N ocr jobs; mixed archives route per member; garbage
    members dead-letter individually). Non-archive payloads return
    their single envelope unchanged, so the landing edge can call
    this unconditionally."""
    fmt, _, _ = sniff_format(raw)
    if fmt != "ZIP":
        return [make_envelope(raw, name=name, enqueued_at=enqueued_at)]
    ok, err = _validate(raw, "ZIP")
    if not ok:
        return [make_envelope(raw, name=name, enqueued_at=enqueued_at)]
    import io as _io
    import zipfile

    out = []
    with zipfile.ZipFile(_io.BytesIO(raw)) as z:
        for info in z.infolist():
            if info.is_dir():
                continue
            member = z.read(info.filename)
            env = make_envelope(
                member,
                name=f"{name}!{info.filename}" if name else info.filename,
                enqueued_at=enqueued_at,
            )
            env["payload"]["archive"] = name or "archive.zip"
            out.append(env)
    return out


# ---------------------------------------------------------------------------
# DocumentRequest oneof (protos/stream_process.proto:199-206): jobs
# carry EITHER inline bytes (image_content, b64 — ocr_worker.py:287-293)
# OR a document_url (S3/HTTP — left UNIMPLEMENTED by the reference,
# ocr_worker.py:296-300 "URL loading not yet implemented"). This
# completes the oneof behind the same pluggable mock-first boundary as
# functions/inference.py: fetchers are registered per URL scheme, the
# container ships a real file:// fetcher (any executor-visible mount),
# and http/s3 stay pluggable (no network in this container; on a
# cluster, register boto3/requests-backed callables). Fetch failures
# dead-letter as `fetch_failed`, never crash the edge.
# ---------------------------------------------------------------------------


def _fetch_file(url: str) -> bytes:
    path = url[len("file://"):]
    with open(path, "rb") as f:
        return f.read()


_FETCHERS: dict = {"file": _fetch_file}


def register_fetcher(scheme: str, fn) -> None:
    """Plug a URL fetcher for `scheme` ('http', 's3', ...): a callable
    (url: str) -> bytes. Mirrors the inference module's engine map —
    deterministic mocks in tests, real clients on a cluster."""
    _FETCHERS[scheme.lower()] = fn


def fetch_document(url: str) -> bytes:
    scheme = url.split("://", 1)[0].lower() if "://" in url else ""
    fn = _FETCHERS.get(scheme)
    if fn is None:
        raise ValueError(f"no fetcher registered for scheme {scheme!r}")
    return fn(url)


def resolve_document_job(
    job: dict, *, enqueued_at: float = 0.0
) -> dict:
    """DocumentRequest oneof → validated job envelope. `job` carries
    exactly one of `image_content` (bytes, or b64 str — the proto wire
    shape) or `document_url`. Resolution failures produce a
    `fetch_failed` dead-letter envelope carrying the error, preserving
    the reference's nack-don't-crash contract (stt_worker.py:115-137)."""
    has_inline = "image_content" in job
    has_url = "document_url" in job
    if has_inline == has_url:  # neither, or both: malformed oneof
        return {
            "job_id": "",
            "type": "malformed_job",
            "priority": "low",
            "enqueued_at": float(enqueued_at),
            "payload": {"error": "DocumentRequest oneof violated: need "
                                 "exactly one of image_content / "
                                 "document_url"},
        }
    if has_inline:
        raw = job["image_content"]
        if isinstance(raw, str):
            raw = base64.b64decode(raw)
        return make_envelope(bytes(raw), name=str(job.get("name", "")),
                             enqueued_at=enqueued_at)
    url = str(job["document_url"])
    try:
        raw = fetch_document(url)
    except Exception as e:  # noqa: BLE001 — edge must not crash
        return {
            "job_id": hashlib.md5(url.encode()).hexdigest()[:16],
            "type": "fetch_failed",
            "priority": "low",
            "enqueued_at": float(enqueued_at),
            "payload": {"document_url": url, "error": str(e)},
        }
    env = make_envelope(raw, name=url.rsplit("/", 1)[-1],
                        enqueued_at=enqueued_at)
    env["payload"]["document_url"] = url
    return env


def ingest_document_job(
    qdir: str, job: dict, *, enqueued_at: float = 0.0
) -> dict:
    """Resolve the oneof and enqueue — fetch → sniff → validate →
    queue, the full round-trip the reference's URL branch never got."""
    env = resolve_document_job(job, enqueued_at=enqueued_at)
    enqueue_job(qdir, env["priority"],
                {k: v for k, v in env.items() if k != "priority"})
    return env


def ingest_bytes(
    qdir: str,
    raw: bytes,
    *,
    name: str = "",
    priority: str | None = None,
    enqueued_at: float = 0.0,
) -> dict:
    """One uploaded payload → envelope → enqueue (batch/API flavor)."""
    job = make_envelope(raw, name=name, enqueued_at=enqueued_at)
    prio = priority or job["priority"]
    enqueue_job(qdir, prio, {k: v for k, v in job.items() if k != "priority"})
    return job


def ingest_dir(qdir: str, src_dir: str, enqueued_at: float = 0.0) -> list[dict]:
    """Landing-directory sweep: every regular file becomes one job, in
    deterministic name order."""
    out = []
    for fn in sorted(os.listdir(src_dir)):
        path = os.path.join(src_dir, fn)
        if os.path.isfile(path):
            with open(path, "rb") as f:
                raw = f.read()
            out.append(
                ingest_bytes(qdir, raw, name=fn, enqueued_at=enqueued_at)
            )
    return out


def oneof_route_rules() -> dict:
    """The DocumentRequest-oneof dispatch decision as data, derived
    from the PRODUCTION state of this module: resolve_document_job's
    oneof precedence and dead-letter constants, fetch_document's
    scheme parse, and the LIVE _FETCHERS registry keys. Only the
    engine-expressible surface — which branch a job takes and which
    fetcher would be dispatched; fetch EXECUTION (file I/O, network)
    stays Python-side (tests/test_ingest.py::
    test_document_url_oneof_round_trip)."""
    return {
        "schemes": tuple(sorted(_FETCHERS)),
        "malformed": ("malformed_job", "low"),
        "failed": ("fetch_failed", "low"),
    }
