"""Single-process cProfile of the per-row converter kernel pipelines.

The converter queries (pdf_thumbnails, audio_transcode, pdf_strip_roundtrip,
embed_text_overlay, images_to_pdf, fetch_images_to_pdf) are map-only
mapInArrow stages; their bench wall is (per-row kernel cost x n_docs / 32
cores) + constant overhead.  Profiling the kernel chain for a sample of
doc_ids single-process shows exactly where the CPU goes (guide section 1).

Usage: python scripts/profile_converters.py <which> [n_docs]
"""
from __future__ import annotations

import cProfile
import pstats
import sys
import time
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parents[1]))

import numpy as np  # noqa: E402


def docids(n):
    return list(range(n))


def run_thumbnails(n):
    from doctor_spark.corpus import _build_text_pdf, _rng
    from doctor_spark.kernels.png import decode_png
    from doctor_spark.kernels.raster import pdf_thumbnail

    for did in docids(n):
        data, _ = _build_text_pdf(did, _rng(did))
        png = pdf_thumbnail(data, 350)
        decode_png(png)


def run_strip(n):
    from doctor_spark.corpus import _build_text_pdf, _rng
    from doctor_spark.kernels.pdf import extract_pdf_layout_text
    from doctor_spark.kernels.pdfwrite import strip_pdf_metadata

    for did in docids(n):
        b, _ = _build_text_pdf(did, _rng(did))
        out = strip_pdf_metadata(b)
        extract_pdf_layout_text(out)
        extract_pdf_layout_text(b)
        strip_pdf_metadata(out)


def run_overlay(n):
    import re as _re

    from doctor_spark.corpus import _build_image_pdf, _rng
    from doctor_spark.kernels.pdf import (
        extract_pdf_layout_text,
        parse_pdf,
        synthetic_ocr_backend,
    )
    from doctor_spark.kernels.pdfwrite import embed_text_overlay

    for did in docids(n):
        b, _ = _build_image_pdf(did, _rng(did))
        doc = parse_pdf(b)
        tables = []
        for page in doc.pages:
            try:
                tables.append(synthetic_ocr_backend(page, False))
            except NotImplementedError:
                tables.append(None)
        out = embed_text_overlay(b, tables, 1700, 2200)
        content = extract_pdf_layout_text(out)[0]
        _re.split(r"\s+", content.strip())
        parse_pdf(out)


def run_audio(n):
    from doctor_spark.kernels.audio import (
        audio_duration_sec,
        parse_id3v2,
        parse_wav,
        set_audio_metadata,
        transcode_wav,
        transcode_wav_voip,
        write_wav,
    )

    audio_data = {
        "court_full_name": "Testing Supreme Court",
        "court_short_name": "Testing Supreme Court",
        "court_pk": "mad", "court_url": "http://www.example.com/",
        "docket_number": "docket 1", "date_argued": "2020-01-01",
        "date_argued_year": "2020", "case_name": "A v. B",
        "case_name_full": "", "case_name_short": "",
        "download_url": "http://media.example.gov/x.mp3",
    }
    for did in docids(n):
        rate = 11025 * (1 + did % 4)
        ch = 1 + did % 2
        nsamp = rate // 2 + (did % 7) * 13
        t = np.arange(nsamp * ch, dtype=np.int64).reshape(nsamp, ch)
        samples = ((t * (did % 97 + 3)) % 24001 - 12000).astype(np.int16)
        blob = write_wav(rate, samples)
        mp3a = transcode_wav(blob)
        voip = transcode_wav_voip(blob)
        parse_wav(mp3a)
        parse_wav(voip)
        tagged = set_audio_metadata(audio_data, mp3a)
        parse_id3v2(tagged)
        parse_wav(tagged)
        audio_duration_sec(mp3a)


def run_images(n):
    from doctor_spark.kernels.pdf import parse_pdf
    from doctor_spark.kernels.pdfwrite import pdf_from_png_bytes
    from doctor_spark.kernels.png import encode_png

    for did in docids(n):
        pngs = []
        for k in range(1 + did % 3):
            h = 8 + (did + k) % 5
            w = 6 + (did * 3 + k) % 7
            arr = ((np.arange(h * w) * (did + 7 + k)) % 256).astype(
                np.uint8
            ).reshape(h, w)
            pngs.append(encode_png(arr))
        out = pdf_from_png_bytes(pngs)
        parse_pdf(out)


def run_fetch(n):
    from doctor_spark.kernels.pdf import parse_pdf
    from doctor_spark.kernels.png import encode_png
    from doctor_spark.sources.fetch import images_to_pdf_from_urls

    def transport(url: str) -> bytes:
        did, k = (int(v) for v in url.rsplit("/", 2)[-2:])
        h = 8 + (did + k) % 5
        w = 6 + (did * 3 + k) % 7
        arr = ((np.arange(h * w) * (did + 7 + k)) % 256).astype(
            np.uint8
        ).reshape(h, w)
        return encode_png(arr)

    for did in docids(n):
        urls = [f"http://img.example/{did}/{k}" for k in range(1 + did % 3)]
        out = images_to_pdf_from_urls(urls, transport=transport)
        parse_pdf(out)


RUNNERS = {
    "thumbnails": run_thumbnails,
    "strip": run_strip,
    "overlay": run_overlay,
    "audio": run_audio,
    "images": run_images,
    "fetch": run_fetch,
}


def main():
    which = sys.argv[1]
    n = int(sys.argv[2]) if len(sys.argv) > 2 else 60
    fn = RUNNERS[which]
    fn(2)  # warm imports
    t0 = time.monotonic()
    fn(n)
    wall = time.monotonic() - t0
    print(f"== {which}: {n} docs in {wall:.3f}s = {wall / n * 1000:.2f} ms/doc "
          f"(sf0.1 est: {wall / n * 8000 / 32:.1f}s on 32 cores)")
    prof = cProfile.Profile()
    prof.enable()
    fn(n)
    prof.disable()
    st = pstats.Stats(prof)
    st.sort_stats("cumulative").print_stats(25)


if __name__ == "__main__":
    main()
