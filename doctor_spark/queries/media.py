"""Media queries: the V1-V6 converters (images to PDF, thumbnails, text
overlay, strip round trip, audio transcode), the media feature and kind
rollups, and perceptual image/audio/video dedup over synthesized
payloads."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.arrow import row_map, row_udf
from doctor_spark.queries import _docs, _docs_spread, _present, _spread_scan, query


# deterministic PNG synthesis for the perceptual image dedup query.
# 50 base patterns; each document renders its pattern (doc_id % 50) as a
# REAL PNG (the from-scratch encoder) with a per-document ±1 pixel noise
# field whose per-cell ones-count is EXACTLY 32 (13 odd ⇒ parity
# alternates along each row ⇒ 4 ones per 8 pixels), so every dHash cell
# mean is bit-identical across copies: hash(pattern, any doc) ==
# hash(pattern).  Pattern grids are 8-level pseudo-random per cell;
# all 50 hashes are pairwise distinct (pinned in tests/test_imagedup.py),
# so perceptual clusters == doc_id % 50 classes by construction and the
# oracle reduces to doc_id arithmetic.
_IMG_PATTERNS = 50


def _synth_pattern_png(doc_id: int) -> bytes:
    import numpy as np

    from doctor_spark.kernels.png import encode_png

    p = doc_id % _IMG_PATTERNS
    # integer hash with avalanche (xorshift-multiply): a plain
    # linear-mix-mod-8 has period 8 in p and collides patterns
    v = (np.uint64(p) * np.uint64(1000003)) + np.arange(72, dtype=np.uint64)
    v ^= v >> np.uint64(7)
    v *= np.uint64(2654435761)
    v ^= v >> np.uint64(13)
    grid = (8 + 32 * (v % np.uint64(8))).astype(np.uint8).reshape(8, 9)
    img = np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)  # 64 x 72
    x = np.arange(72, dtype=np.int64)[None, :]
    y = np.arange(64, dtype=np.int64)[:, None]
    noise = ((doc_id + 13 * x + 7 * y) % 2).astype(np.uint8)
    return encode_png(img + noise)


def _synth_png_udf():
    return row_udf(_synth_pattern_png, "binary")


@query(oracle=f"""
SELECT MIN(doc_id)::BIGINT AS rep_doc, COUNT(*)::BIGINT AS n_images
FROM documents WHERE text IS NOT NULL
GROUP BY doc_id % {_IMG_PATTERNS}
""")
def q_image_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image dedup (dHash over the from-scratch PNG codec):
    decode + hash in one Arrow map stage, exact clusters via ONE keyed
    groupBy on the 64-bit hash (map-side partial agg collapses each
    cluster before the exchange).  The synthesis guarantees clusters ==
    doc_id % 50 classes (noise-exact cell means, distinct pattern
    hashes), so the oracle is pure doc_id arithmetic while the Spark
    side exercises the full encode→decode→hash→group path."""
    from doctor_spark.operators.imagedup import image_dup_clusters

    imgs = (
        _docs_spread(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", _synth_png_udf()(F.col("doc_id")).alias("payload"))
    )
    out = image_dup_clusters(imgs, payload_col="payload", id_col="doc_id")
    return out.select(
        F.col("rep_id").cast("bigint").alias("rep_doc"),
        F.col("n_images").cast("bigint").alias("n_images"),
    )


# deterministic WAV synthesis for the perceptual audio dedup query — the
# image construction transposed to time: 40 envelope patterns, 65 frames
# of 64 samples; every sample is positive (A + {0,1} noise with exactly
# 32 ones per frame, so each frame's integer mean energy is EXACTLY its
# pattern level) ⇒ fingerprint(pattern, any doc) == fingerprint(pattern),
# and clusters == doc_id % 40 classes.  Distinctness of the 40
# fingerprints is pinned in tests/test_audiodup.py.
_AUD_PATTERNS = 40


def _synth_pattern_wav(doc_id: int) -> bytes:
    import numpy as np

    from doctor_spark.kernels.audio import write_wav

    p = doc_id % _AUD_PATTERNS
    v = (np.uint64(p) * np.uint64(9176) + np.uint64(77)) + np.arange(
        65, dtype=np.uint64
    )
    v ^= v >> np.uint64(7)
    v *= np.uint64(2654435761)
    v ^= v >> np.uint64(13)
    levels = (64 * (1 + (v % np.uint64(8)))).astype(np.int64)  # 64..512
    samples = np.repeat(levels, 64)  # 65 frames x 64 samples
    j = np.arange(samples.shape[0], dtype=np.int64)
    samples = (samples + (doc_id + j) % 2).astype(np.int16)
    return write_wav(8000, samples)


def _synth_wav_udf():
    return row_udf(_synth_pattern_wav, "binary")


@query(oracle=f"""
SELECT MIN(doc_id)::BIGINT AS rep_doc, COUNT(*)::BIGINT AS n_clips
FROM documents WHERE text IS NOT NULL
GROUP BY doc_id % {_AUD_PATTERNS}
""")
def q_audio_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual audio dedup (energy-envelope fingerprint over the
    from-scratch RIFF/WAV parser): decode + hash in one Arrow map stage,
    exact clusters via ONE keyed groupBy.  Synthesis guarantees clusters
    == doc_id % 40 classes, so the oracle is doc_id arithmetic while the
    Spark side exercises the full WAV-encode→parse→hash→group path."""
    from doctor_spark.operators.audiodup import audio_dup_clusters

    clips = (
        _docs(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", _synth_wav_udf()(F.col("doc_id")).alias("payload"))
    )
    out = audio_dup_clusters(clips, payload_col="payload", id_col="doc_id")
    return out.select(
        F.col("rep_id").cast("bigint").alias("rep_doc"),
        F.col("n_clips").cast("bigint").alias("n_clips"),
    )


# deterministic frame-stack synthesis for the video dedup query: 30
# patterns; each doc renders its pattern as 8 frames whose per-pixel
# noise has EXACTLY 4 ones across the frame axis ((doc+x+y+t) % 2 with 8
# frames ⇒ 4), so the integer temporal-mean frame is bit-identical to
# the base pattern and vhash(pattern, any doc) == vhash(pattern).
# Distinctness of the 30 fingerprints is pinned in tests/test_videodup.py.
_VID_PATTERNS = 30


def _synth_pattern_video(doc_id: int) -> bytes:
    import numpy as np

    from doctor_spark.operators.multimodal import encode_video

    p = doc_id % _VID_PATTERNS
    v = (np.uint64(p) * np.uint64(524287) + np.uint64(11)) + np.arange(
        72, dtype=np.uint64
    )
    v ^= v >> np.uint64(7)
    v *= np.uint64(2654435761)
    v ^= v >> np.uint64(13)
    grid = (8 + 32 * (v % np.uint64(8))).astype(np.uint8).reshape(8, 9)
    base = np.repeat(np.repeat(grid, 8, axis=0), 8, axis=1)  # 64 x 72
    x = np.arange(72, dtype=np.int64)[None, None, :]
    y = np.arange(64, dtype=np.int64)[None, :, None]
    t = np.arange(8, dtype=np.int64)[:, None, None]
    noise = ((doc_id + x + y + t) % 2).astype(np.uint8)
    return encode_video(base[None, :, :] + noise)


def _synth_video_udf():
    return row_udf(_synth_pattern_video, "binary")


@query(oracle=f"""
SELECT MIN(doc_id)::BIGINT AS rep_doc, COUNT(*)::BIGINT AS n_clips
FROM documents WHERE text IS NOT NULL
GROUP BY doc_id % {_VID_PATTERNS}
""")
def q_video_dup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual video dedup (temporal-mean-frame dHash): decode + hash
    in one Arrow map stage, exact clusters via ONE keyed groupBy.  The
    synthesis guarantees clusters == doc_id % 30 classes, so the oracle
    is doc_id arithmetic while the Spark side exercises the full
    frame-stack encode→decode→mean→hash→group path."""
    from doctor_spark.operators.videodup import video_dup_clusters

    clips = (
        _docs_spread(spark, sf_dir)
        .where(F.col("text").isNotNull())
        .select("doc_id", _synth_video_udf()(F.col("doc_id")).alias("payload"))
    )
    out = video_dup_clusters(clips, payload_col="payload", id_col="doc_id")
    return out.select(
        F.col("rep_id").cast("bigint").alias("rep_doc"),
        F.col("n_clips").cast("bigint").alias("n_clips"),
    )


@query(oracle=(
    "SELECT CAST(NULL AS BIGINT) AS media_id,"
    " CAST(NULL AS DOUBLE) AS mean_value WHERE 1 = 0"
))
def q_media_features_mismatch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal gate: decoded feature values must equal the generator's
    goldens.  Expected: EMPTY."""
    from doctor_spark.operators.multimodal import media_dataframe, media_features

    media = media_dataframe(spark, 120)
    feats = media_features(media)
    joined = feats.join(media.select("media_id", "expected_mean"), "media_id")
    return joined.where(
        ~F.col("mean_value").eqNullSafe(F.col("expected_mean"))
    ).select(
        F.col("media_id").cast("bigint").alias("media_id"),
        F.col("mean_value").cast("double").alias("mean_value"),
    )


# V1: the page tree the writer must produce — one page per image
@query(oracle=(
    "SELECT doc_id, (1 + doc_id % 3)::INT AS n_images,"
    " (1 + doc_id % 3)::INT AS page_count, true AS parse_ok"
    " FROM documents ORDER BY doc_id"
))
def q_images_to_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V1 (reference tasks.py:55-72): per document, 1 + doc_id % 3
    deterministic PNG rasters → one multi-page PDF via the from-scratch
    writer (kernels/pdfwrite.pdf_from_png_bytes), re-parsed with the
    independent reader.  The oracle is the page-tree structure the
    writer must produce: page_count == n_images, one image per page.

    Plan note (guide §4.1): generation and conversion are FUSED into one
    ``mapInArrow`` (sharing the operator's per-row core) so the generated
    PNG bytes never cross the JVM↔Python boundary — only doc_id in, four
    stat columns out."""
    import numpy as np

    from doctor_spark.kernels.png import encode_png
    from doctor_spark.operators.multimodal import (
        IMAGES_TO_PDF_DDL,
        images_to_pdf_row,
    )

    docs = _spread_scan(spark, f"{sf_dir}/documents.parquet", cols=["doc_id"])

    def gen(did):
        pngs = []
        for k in range(1 + did % 3):
            h = 8 + (did + k) % 5
            w = 6 + (did * 3 + k) % 7
            arr = (
                (np.arange(h * w) * (did + 7 + k)) % 256
            ).astype(np.uint8).reshape(h, w)
            pngs.append(encode_png(arr))
        return [images_to_pdf_row(did, pngs)]

    return _present(row_map(docs, gen, IMAGES_TO_PDF_DDL), "doc_id")


# S2 chain: fetched-URL count == page count for every document
@query(oracle=(
    "SELECT doc_id, (1 + doc_id % 3)::INT AS n_urls,"
    " (1 + doc_id % 3)::INT AS page_count, true AS parse_ok"
    " FROM documents ORDER BY doc_id"
))
def q_fetch_images_to_pdf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S2 + the /convert/images/pdf/ chain (reference tasks.py:436-458 +
    views.py:370-393): per document, 1 + doc_id % 3 image URLs fetched
    through the pluggable transport (deterministic PNG fake — the
    network seam, like the OCR backend's tesseract seam), assembled to
    one page per image by the V1 writer, metadata-stripped (V3), and
    re-parsed by the independent reader.  Oracle: the page tree matches
    the URL count for every document."""
    import numpy as np

    from doctor_spark.kernels.pdf import parse_pdf
    from doctor_spark.kernels.pdfwrite import PdfWriteError
    from doctor_spark.kernels.png import encode_png
    from doctor_spark.sources.fetch import images_to_pdf_from_urls

    docs = _spread_scan(spark, f"{sf_dir}/documents.parquet", cols=["doc_id"])

    def transport(url: str) -> bytes:
        did, k = (int(v) for v in url.rsplit("/", 2)[-2:])
        h = 8 + (did + k) % 5
        w = 6 + (did * 3 + k) % 7
        arr = ((np.arange(h * w) * (did + 7 + k)) % 256).astype(
            np.uint8
        ).reshape(h, w)
        return encode_png(arr)

    def gen(did):
        urls = [f"http://img.example/{did}/{k}" for k in range(1 + did % 3)]
        try:
            out = images_to_pdf_from_urls(urls, transport=transport)
            doc = parse_pdf(out)
            ok = doc.page_count == len(urls) and all(
                len(pg.images) == 1 for pg in doc.pages
            )
            return [(did, len(urls), doc.page_count, bool(ok))]
        except (PdfWriteError, ValueError):
            return [(did, len(urls), 0, False)]

    return _present(
        row_map(
            docs, gen, "doc_id long, n_urls int, page_count int, parse_ok boolean"
        ),
        "doc_id",
    )


# V5/V6: closed-form resample lengths + channel policy + duration
@query(oracle="""
SELECT doc_id AS media_id,
       22050::INT AS mp3_rate,
       ((n_in - 1) * 22050 // rate_in + 1)::BIGINT AS mp3_n,
       (1 + doc_id % 2)::INT AS mp3_ch,
       8000::INT AS voip_rate,
       ((n_in - 1) * 8000 // rate_in + 1)::BIGINT AS voip_n,
       1::INT AS voip_ch,
       (((n_in - 1) * 22050 // rate_in + 1) / 22050.0)::DOUBLE
           AS duration_sec,
       true AS tag_ok
FROM (
  SELECT doc_id,
         11025 * (1 + doc_id % 4) AS rate_in,
         11025 * (1 + doc_id % 4) // 2 + (doc_id % 7) * 13 AS n_in
  FROM documents
) ORDER BY media_id
""")
def q_audio_transcode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V5/V6 (reference tasks.py:467-603, views.py:396-409): per
    document id, a deterministic PCM16 WAV (rate 11025·(1+id%4),
    channels 1+id%2, n = rate/2 + (id%7)·13 samples) → both reference
    transcode profiles via the from-scratch RIFF kernels + the ID3v2.4
    retag round-trip.  Oracle: the resampler's closed-form output
    lengths ((n−1)·out//in + 1), rates, channel policy (mp3 keeps,
    voip folds to mono), duration, and tag equality — all recomputed
    arithmetically in SQL.

    Plan note (guide §4.1): generation and transcode are FUSED into one
    ``mapInArrow`` (sharing the operator's per-row core) so the WAV
    bytes never cross the JVM↔Python boundary."""
    import numpy as np

    from doctor_spark.kernels.audio import write_wav
    from doctor_spark.operators.multimodal import (
        AUDIO_TRANSCODE_DDL,
        audio_transcode_row,
    )

    docs = _spread_scan(spark, f"{sf_dir}/documents.parquet", cols=["doc_id"])

    def gen(did):
        rate = 11025 * (1 + did % 4)
        ch = 1 + did % 2
        n = rate // 2 + (did % 7) * 13
        t = np.arange(n * ch, dtype=np.int64).reshape(n, ch)
        samples = ((t * (did % 97 + 3)) % 24001 - 12000).astype(np.int16)
        return [audio_transcode_row(did, write_wav(rate, samples))]

    return _present(row_map(docs, gen, AUDIO_TRANSCODE_DDL), "media_id")


# V2: pdftoppm -scale-to geometry + decodable non-blank raster
@query(oracle=(
    "SELECT doc_id, 270::INT AS thumb_w, 350::INT AS thumb_h,"
    " true AS png_ok, true AS has_ink"
    " FROM documents ORDER BY doc_id"
))
def q_pdf_thumbnails(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V2 (reference utils.py:164-189, views.py:196-212): per document, a
    deterministic multi-page text PDF (the corpus writer, always US
    letter portrait) → page-1 PNG thumbnail at the reference's default
    max_dimension=350 via the from-scratch layout rasterizer + PNG
    codec.  Oracle: pdftoppm's -scale-to geometry (350 tall,
    round(350·612/792)=270 wide) and a decodable, non-blank raster for
    every document.

    Plan note (guide §4.1): generation and rasterization are FUSED into
    one ``mapInArrow`` (sharing the operator's per-row core) so the PDF
    bytes never cross the JVM↔Python boundary."""
    from doctor_spark.corpus import _build_text_pdf, _rng
    from doctor_spark.operators.multimodal import THUMBNAIL_DDL, pdf_thumbnail_row

    docs = _spread_scan(spark, f"{sf_dir}/documents.parquet", cols=["doc_id"])

    def gen(did):
        data, _golden = _build_text_pdf(did, _rng(did))
        return [pdf_thumbnail_row(did, data)]

    return _present(row_map(docs, gen, THUMBNAIL_DDL), "doc_id")


# V4: the overlay round-trip properties hold for every document
@query(oracle=(
    "SELECT doc_id, 1::INT AS page_count, true AS has_words,"
    " true AS tokens_match, true AS overlay_invisible"
    " FROM documents ORDER BY doc_id"
))
def q_embed_text_overlay(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V4 (reference views.py:439-474 + utils.py:317-356): per document,
    a deterministic image-only scan PDF (the corpus writer's OCR bucket
    shape), OCR word table via the pluggable backend, invisible text
    layer merged by the from-scratch overlay writer, then the closed
    loop: the independent parser re-extracts the layer and the tokens
    must equal the word table in raster reading order.  Oracle: every
    document round-trips (1 page, words present, tokens exact, both
    invisibility mechanisms in the output bytes)."""
    from doctor_spark.corpus import _build_image_pdf, _rng
    from doctor_spark.operators.multimodal import EMBED_OVERLAY_DDL, embed_text_overlay_row

    docs = _spread_scan(spark, f"{sf_dir}/documents.parquet", cols=["doc_id"])

    def gen(did):
        data, _golden = _build_image_pdf(did, _rng(did))
        return [embed_text_overlay_row(did, data)]

    return _present(row_map(docs, gen, EMBED_OVERLAY_DDL), "doc_id")


# V3: the strip round-trip properties hold for every document
@query(oracle=(
    "SELECT doc_id, true AS text_equal, true AS strip_stable,"
    " true AS shrunk_or_equal FROM documents ORDER BY doc_id"
))
def q_pdf_strip_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """V3 (reference tasks.py:39-53): per document, a deterministic
    multi-page text PDF (the corpus writer) → metadata strip via the
    from-scratch re-serializer → round-trip properties: layout text
    unchanged, strip idempotent, size sane.  Oracle: all three hold for
    every document."""
    from doctor_spark.corpus import _build_text_pdf, _rng
    from doctor_spark.operators.multimodal import STRIP_ROUNDTRIP_DDL, pdf_strip_roundtrip_row

    docs = _spread_scan(spark, f"{sf_dir}/documents.parquet", cols=["doc_id"])

    def gen(did):
        data, _golden = _build_text_pdf(did, _rng(did))
        return [pdf_strip_roundtrip_row(did, data)]

    return _present(row_map(docs, gen, STRIP_ROUNDTRIP_DDL), "doc_id")


@query(oracle=(
    "SELECT 'image' AS kind, 40::BIGINT AS n_items"
    " UNION ALL SELECT 'audio', 40::BIGINT"
    " UNION ALL SELECT 'video', 40::BIGINT"
))
def q_media_kind_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multimodal metadata rollup (kinds cycle 1:1:1 over 120 items)."""
    from doctor_spark.operators.multimodal import media_dataframe, media_kind_stats

    return media_kind_stats(media_dataframe(spark, 120)).select(
        "kind", F.col("n_items").cast("bigint").alias("n_items")
    )
