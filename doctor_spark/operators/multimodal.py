"""Multimodal columns: image / audio / video as opaque binary + typed
metadata, processed by Arrow-batched kernels.

Schema (the ``media`` table)::

    media(media_id: long, kind: string, payload: binary,
          mime: string, meta: struct<width int, height int,
          sample_rate int, n_frames int>)

Real-world codecs (JPEG/PNG decode, PCM/MP3, H.264) are NOT available in
this environment; per the brief, the *decode* step is pluggable:

- ``SyntheticCodec`` (default, fully implemented): a deterministic raw
  format this module both writes and reads — 8-bit gray rasters, 16-bit
  PCM audio, concatenated raster frames for video — so the Spark-side
  plumbing (schemas, batch shapes, UDF signatures, explode semantics,
  numpy vectorization) is real and tested end-to-end;
- ``PillowCodec`` / ``FfmpegCodec``: clearly-marked stubs raising
  NotImplementedError until the libraries exist on the cluster.

Every operator is one ``mapInArrow`` node (``doctor_spark.arrow.row_map``):
numpy per item, one output batch per input batch.
"""

from __future__ import annotations

import struct as _struct

import numpy as np
from pyspark.sql import DataFrame, functions as F

from ..arrow import row_map

MEDIA_SCHEMA_DDL = (
    "media_id long, kind string, payload binary, mime string, "
    "meta struct<width:int, height:int, sample_rate:int, n_frames:int>"
)

_IMG_MAGIC = b"SYNIMG1\x00"
_AUD_MAGIC = b"SYNAUD1\x00"
_VID_MAGIC = b"SYNVID1\x00"


# --------------------------------------------------------------------------
# synthetic codec (fully real encode/decode of our own raw format)
# --------------------------------------------------------------------------


def encode_image(pixels: np.ndarray) -> bytes:
    """8-bit gray raster -> bytes.  pixels: (h, w) uint8."""
    h, w = pixels.shape
    return _IMG_MAGIC + _struct.pack("<II", w, h) + pixels.tobytes()


def decode_image(payload: bytes) -> np.ndarray:
    if payload[:8] != _IMG_MAGIC:
        raise ValueError("not a SYNIMG payload")
    w, h = _struct.unpack_from("<II", payload, 8)
    return np.frombuffer(payload, dtype=np.uint8, count=w * h, offset=16).reshape(h, w)


def encode_audio(samples: np.ndarray, sample_rate: int) -> bytes:
    """16-bit mono PCM -> bytes.  samples: (n,) int16."""
    return _AUD_MAGIC + _struct.pack("<I", sample_rate) + samples.astype("<i2").tobytes()


def decode_audio(payload: bytes) -> tuple[np.ndarray, int]:
    if payload[:8] != _AUD_MAGIC:
        raise ValueError("not a SYNAUD payload")
    (rate,) = _struct.unpack_from("<I", payload, 8)
    return np.frombuffer(payload, dtype="<i2", offset=12), rate


def encode_video(frames: np.ndarray) -> bytes:
    """(n_frames, h, w) uint8 -> bytes."""
    n, h, w = frames.shape
    return _VID_MAGIC + _struct.pack("<III", n, w, h) + frames.tobytes()


def decode_video(payload: bytes) -> np.ndarray:
    if payload[:8] != _VID_MAGIC:
        raise ValueError("not a SYNVID payload")
    n, w, h = _struct.unpack_from("<III", payload, 8)
    return np.frombuffer(
        payload, dtype=np.uint8, count=n * w * h, offset=20
    ).reshape(n, h, w)


def decode_image_pillow(payload: bytes):  # pragma: no cover - env-gated
    """JPEG/TIFF decode — pluggable backend stub, like the reference's PIL
    usage (doctor/tasks.py:55-72, utils.py:166-189).  PNG no longer routes
    here: :mod:`..kernels.png` decodes it from scratch."""
    try:
        from PIL import Image  # noqa: F401
    except ImportError as exc:
        raise NotImplementedError(
            "Pillow is not installed in this environment; use the synthetic "
            "codec or install PIL on the cluster"
        ) from exc
    raise NotImplementedError("wire Image.open(io.BytesIO(payload)) here")


def decode_image_any(payload: bytes) -> np.ndarray:
    """Dispatch on magic: synthetic raster, real PNG (from-scratch codec),
    else the Pillow stub.  Returns uint8 (h, w) or (h, w, c)."""
    from ..kernels.png import PNG_SIGNATURE, decode_png

    if payload[:8] == _IMG_MAGIC:
        return decode_image(payload)
    if payload[:8] == PNG_SIGNATURE:
        return decode_png(payload)
    return decode_image_pillow(payload)


# --------------------------------------------------------------------------
# deterministic media corpus (pure function of media_id, like corpus.py)
# --------------------------------------------------------------------------


def generate_media(media_id: int) -> dict:
    """One media row; kind cycles image/audio/video; pixel/sample content is
    a deterministic function of the id, and the expected feature values are
    emitted alongside (golden columns) for byte-exact verification."""
    kind = ("image", "audio", "video")[media_id % 3]
    rng = np.random.default_rng(media_id * 7919 + 13)
    if kind == "image":
        h, w = 24 + (media_id % 5) * 8, 32 + (media_id % 7) * 8
        variant = (media_id // 3) % 3
        if variant == 0:  # real PNG, grayscale (from-scratch codec)
            from ..kernels.png import encode_png

            px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            payload = encode_png(px)
            mime = "image/png"
        elif variant == 1:  # real PNG, RGB
            from ..kernels.png import encode_png

            px = rng.integers(0, 256, size=(h, w, 3), dtype=np.uint8)
            payload = encode_png(px)
            mime = "image/png"
        else:  # synthetic raster
            px = rng.integers(0, 256, size=(h, w), dtype=np.uint8)
            payload = encode_image(px)
            mime = "image/x-syn"
        meta = {"width": w, "height": h, "sample_rate": None, "n_frames": None}
        expected_mean = round(float(px.mean()), 4)
    elif kind == "audio":
        rate = 8000 if media_id % 2 else 16000
        n = rate // 4  # 250 ms
        samples = (rng.integers(-2000, 2000, size=n)).astype(np.int16)
        payload = encode_audio(samples, rate)
        meta = {"width": None, "height": None, "sample_rate": rate, "n_frames": None}
        expected_mean = round(float(np.abs(samples.astype(np.float64)).mean()), 4)
        mime = "audio/x-syn"
    else:
        n, h, w = 4 + media_id % 4, 16, 16
        frames = rng.integers(0, 256, size=(n, h, w), dtype=np.uint8)
        payload = encode_video(frames)
        meta = {"width": w, "height": h, "sample_rate": None, "n_frames": n}
        expected_mean = round(float(frames.mean()), 4)
        mime = "video/x-syn"
    return {
        "media_id": media_id,
        "kind": kind,
        "payload": payload,
        "mime": mime,
        "meta": meta,
        "expected_mean": expected_mean,
    }


MEDIA_WITH_GOLDEN_DDL = MEDIA_SCHEMA_DDL + ", expected_mean double"


def media_dataframe(spark, n: int, partitions: int | None = None) -> DataFrame:
    parts = partitions or spark.sparkContext.defaultParallelism

    def gen(i):
        return [tuple(generate_media(i).values())]  # MEDIA_WITH_GOLDEN_DDL order

    return row_map(
        spark.range(0, n, numPartitions=parts), gen, MEDIA_WITH_GOLDEN_DDL
    )


# --------------------------------------------------------------------------
# operators
# --------------------------------------------------------------------------

FEATURES_DDL = (
    "media_id long, kind string, mean_value double, std_value double, "
    "n_elements long, duration_sec double"
)


def media_features(df: DataFrame) -> DataFrame:
    """Per-item features via one Arrow batch pass: mean/std of pixels
    (image/video) or |PCM| mean + duration (audio)."""

    # Python round() (decimal-correct), NOT np.round — the scaled-multiply
    # rounding differs at the last digit and breaks golden equality
    def r4(v):
        return round(float(v), 4)

    def features(mid, kind, b):
        try:
            if kind == "image":
                px = decode_image_any(b).astype(np.float64)
                return [(mid, kind, r4(px.mean()), r4(px.std()), px.size, None)]
            if kind == "audio":
                samples, rate = decode_audio(b)
                s = np.abs(samples.astype(np.float64))
                return [(mid, kind, r4(s.mean()), r4(s.std()), s.size,
                         len(samples) / rate)]
            fr = decode_video(b).astype(np.float64)
            return [(mid, kind, r4(fr.mean()), r4(fr.std()), fr.size, None)]
        except ValueError:
            return [(mid, kind, None, None, 0, None)]

    return row_map(df.select("media_id", "kind", "payload"), features, FEATURES_DDL)


def image_resize(df: DataFrame, max_dim: int = 350) -> DataFrame:
    """Nearest-neighbor thumbnail of image payloads, preserving aspect
    ratio, longest side = ``max_dim`` — the reference's thumbnail contract
    (doctor/forms.py:83-92 ``max_dimension`` default 350;
    utils.py:166-189)."""

    def resize(mid, kind, payload):
        if kind != "image":
            return []
        px = decode_image_any(payload)
        h, w = px.shape[:2]
        scale = max_dim / max(h, w)
        nh, nw = max(1, int(h * scale)), max(1, int(w * scale))
        yi = (np.arange(nh) * (h / nh)).astype(int)
        xi = (np.arange(nw) * (w / nw)).astype(int)
        thumb = px[yi][:, xi]
        if thumb.ndim == 2:
            enc = encode_image(thumb)
        else:
            from ..kernels.png import encode_png

            enc = encode_png(thumb)
        return [(mid, nw, nh, enc)]

    return row_map(
        df.select("media_id", "kind", "payload"), resize,
        "media_id long, width int, height int, thumbnail binary",
    )


def video_frame_sample(df: DataFrame, every_k: int = 2) -> DataFrame:
    """Sample every k-th frame of video payloads into one row per frame
    (frame re-encoded as an image payload) — the explode-shaped operator a
    training pipeline uses for frame-level feature extraction."""

    def frames_of(mid, kind, payload):
        if kind != "video":
            return []
        frames = decode_video(payload)
        return [
            (mid, fno, encode_image(frames[fno]), round(float(frames[fno].mean()), 4))
            for fno in range(0, frames.shape[0], every_k)
        ]

    return row_map(
        df.select("media_id", "kind", "payload"), frames_of,
        "media_id long, frame_no int, frame binary, frame_mean double",
    )


def media_kind_stats(df: DataFrame) -> DataFrame:
    """Relational rollup over typed metadata (JVM-side; no Python)."""
    return df.groupBy("kind").agg(
        F.count("*").cast("bigint").alias("n_items"),
        F.sum(F.length("payload")).cast("bigint").alias("total_bytes"),
        F.max("meta.width").alias("max_width"),
        F.max("meta.n_frames").alias("max_frames"),
    )


# --------------------------------------------------------------------------
# PDF writing operators (reference V1/V3: tasks.py:55-72, 39-53)
# --------------------------------------------------------------------------

IMAGES_TO_PDF_DDL = (
    "doc_id long, n_images int, page_count int, parse_ok boolean"
)


def images_to_pdf_row(did, blobs: list[bytes]) -> tuple:
    """(doc_id, PNG blobs) → one multi-page PDF via the V1 writer
    (``kernels.pdfwrite.pdf_from_png_bytes`` — PNG decode by the
    from-scratch codec, FlateDecode image XObjects, PIL resolution=100
    page sizing), re-parsed with the independent reader: ``(doc_id,
    n_images, page_count, parse_ok)``, where ``parse_ok`` asserts the
    page tree round trips (one page per image, one image per page).
    The row core of the fused generate+convert query in
    ``doctor_spark.queries.media``, so the generated PNG bytes never
    cross the JVM↔Python boundary (guide §4.1).  Reference: doctor/tasks.py:55-72
    (pdf_bytes_from_images) behind /convert/images/pdf/."""
    from ..kernels.pdf import parse_pdf
    from ..kernels.pdfwrite import PdfWriteError, pdf_from_png_bytes

    try:
        out = pdf_from_png_bytes(blobs)
        doc = parse_pdf(out)
        ok = doc.page_count == len(blobs) and all(
            len(pg.images) == 1 for pg in doc.pages
        )
        return (did, len(blobs), doc.page_count, bool(ok))
    except (PdfWriteError, ValueError):
        return (did, len(blobs), 0, False)


AUDIO_TRANSCODE_DDL = (
    "media_id long, mp3_rate int, mp3_n bigint, mp3_ch int, "
    "voip_rate int, voip_n bigint, voip_ch int, duration_sec double, "
    "tag_ok boolean"
)


AUDIO_TAG_FIXTURE = {
    "court_full_name": "Testing Supreme Court",
    "court_short_name": "Testing Supreme Court",
    "court_pk": "mad", "court_url": "http://www.example.com/",
    "docket_number": "docket 1", "date_argued": "2020-01-01",
    "date_argued_year": "2020", "case_name": "A v. B",
    "case_name_full": "", "case_name_short": "",
    "download_url": "http://media.example.gov/x.mp3",
}


def audio_transcode_row(mid, blob: bytes) -> tuple:
    """(media_id, wav bytes) → V5/V6 transcode properties via the
    from-scratch RIFF/WAV kernels (``kernels.audio`` — reference
    tasks.py:467-532 ffmpeg transcodes, 535-603 eyed3 retag,
    views.py:396-409 duration): the mp3 analog (22050 Hz, channels
    kept) and the opus-voip analog (8000 Hz mono), each re-parsed, plus
    an ID3v2.4 retag round trip.  Sample counts follow the resampler's
    closed form ``(n-1)·out//in + 1``.  The row core of the fused
    generate+transcode query in ``doctor_spark.queries.media``."""
    from ..kernels.audio import (
        WavError,
        audio_duration_sec,
        parse_id3v2,
        parse_wav,
        set_audio_metadata,
        transcode_wav,
        transcode_wav_voip,
    )

    try:
        mp3a = transcode_wav(blob)
        voip = transcode_wav_voip(blob)
        r1, x1 = parse_wav(mp3a)
        r2, x2 = parse_wav(voip)
        tagged = set_audio_metadata(AUDIO_TAG_FIXTURE, mp3a)
        tags, comments, images = parse_id3v2(tagged)
        tag_ok = (
            tags.get("TIT2") == "A v. B"
            and tags.get("TPUB") == "Free Law Project"
            and [im[0] for im in images] == [3, 14]
            and parse_wav(tagged)[1].shape == x1.shape
        )
        return (
            mid, r1, x1.shape[0], x1.shape[1],
            r2, x2.shape[0], x2.shape[1],
            audio_duration_sec(mp3a), bool(tag_ok),
        )
    except (WavError, ValueError):
        return (mid, 0, 0, 0, 0, 0, 0, 0.0, False)


THUMBNAIL_DDL = (
    "doc_id long, thumb_w int, thumb_h int, png_ok boolean, "
    "has_ink boolean"
)


def pdf_thumbnail_row(did, blob: bytes) -> tuple:
    """(doc_id, pdf bytes) → V2 thumbnail properties via the
    from-scratch layout rasterizer + PNG encoder
    (``kernels.raster.pdf_thumbnail`` — reference ``pdftoppm
    -singlefile -f 1 -scale-to 350 -png``, utils.py:164-189).
    ``png_ok``: the PNG round-trips through the independent decoder;
    ``has_ink``: non-white pixels rendered.  The row core of the fused
    generate+rasterize query in ``doctor_spark.queries.media``."""
    from ..kernels.png import decode_png
    from ..kernels.raster import RasterError, pdf_thumbnail

    try:
        png = pdf_thumbnail(blob, 350)
        arr = decode_png(png)
        return (
            did, int(arr.shape[1]), int(arr.shape[0]), True,
            bool((arr < 128).any()),
        )
    except (RasterError, ValueError):
        return (did, 0, 0, False, False)


EMBED_OVERLAY_DDL = (
    "doc_id long, page_count int, has_words boolean, tokens_match boolean, "
    "overlay_invisible boolean"
)


def embed_text_overlay_row(did, b: bytes) -> tuple:
    """(doc_id, pdf bytes) → V4 "embed text" round-trip properties via
    the overlay writer (``kernels.pdfwrite.embed_text_overlay`` —
    reference views.py:439-474): OCR each page with the pluggable
    backend, merge the invisible layer, then check with the independent
    parser that the re-extracted tokens equal the word table and that
    the overlay carries both invisibility mechanisms (``3 Tr`` +
    ``/ca 0``).  The row core of the fused generate+overlay query in
    ``doctor_spark.queries.media``."""
    import re as _re

    from ..kernels.pdf import (
        extract_pdf_layout_text,
        parse_pdf,
        synthetic_ocr_backend,
    )
    from ..kernels.pdfwrite import PdfWriteError, embed_text_overlay

    try:
        doc = parse_pdf(b)
        tables = []
        for page in doc.pages:
            try:
                tables.append(synthetic_ocr_backend(page, False))
            except NotImplementedError:
                tables.append(None)
        out = embed_text_overlay(b, tables, 1700, 2200)
        content = extract_pdf_layout_text(out)[0]
        toks = _re.split(r"\s+", content.strip())
        exp = [
            w["text"] for t in tables if t for w in t
            if w.get("text")
        ]
        return (
            did, parse_pdf(out).page_count, bool(exp),
            toks == exp if exp else content.strip("\f\n ") == "",
            b"3 Tr" in out and b"/ca 0" in out,
        )
    except (PdfWriteError, ValueError):
        return (did, 0, False, False, False)


STRIP_ROUNDTRIP_DDL = (
    "doc_id long, text_equal boolean, strip_stable boolean, "
    "shrunk_or_equal boolean"
)


def pdf_strip_roundtrip_row(did, b: bytes) -> tuple:
    """(doc_id, pdf bytes) → metadata-strip round-trip properties via
    the V3 writer (``kernels.pdfwrite.strip_pdf_metadata`` — reference
    tasks.py:39-53): layout text unchanged, double-strip deterministic,
    output not larger than a rewrite should be.  The row core of the
    fused generate+strip query in ``doctor_spark.queries.media``."""
    from ..kernels.pdf import extract_pdf_layout_text
    from ..kernels.pdfwrite import PdfWriteError, strip_pdf_metadata

    try:
        out = strip_pdf_metadata(b)
        text_equal = (
            extract_pdf_layout_text(out)[0]
            == extract_pdf_layout_text(b)[0]
        )
        stable = strip_pdf_metadata(out) == out
        return (
            did, bool(text_equal), bool(stable),
            len(out) <= 2 * len(b) + 4096,
        )
    except (PdfWriteError, ValueError):
        return (did, False, False, False)
