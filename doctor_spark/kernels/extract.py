"""Document-level extraction dispatch — classify-then-parse for one payload.

Reimplements the reference's request lifecycle as a pure function of
``(url, payload bytes, flags)`` — reference ``extract_doc_content``
(doctor/views.py:114-193, dispatch at 132-149), ``extract_from_pdf``
(tasks.py:194-234), ``extract_recap_pdf`` (tasks.py:683-703),
``extract_by_ocr`` (tasks.py:237-251).

The result record matches the reference's response schema
(views.py:185-193): content, err, extension, extracted_by_ocr, page_count —
plus mime and ocr_needed_pages for pipeline observability.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from .html import extract_from_html_bytes
from .mojibake import fix_mojibake, looks_mojibake
from .ocr_assembly import (
    assemble_page_text,
    assemble_page_text_plain,
    cleanup_ocr_text,
)
from .pdf import (
    OcrBackend,
    extract_pdf_layout_text,
    get_page_count,
    layout_page_text,
    ocr_needed,
    page_needs_ocr,
    parse_pdf,
    plumber_layout_text,
    strip_margin_band,
    synthetic_ocr_backend,
)
from .sniff import classify
from .textfile import decode_txt
from .whitespace import remove_excess_whitespace
from .docx import extract_from_docx_bytes

OCR_FAIL_MSG = (
    "Unable to extract the content from this file. Please try "
    "reading the original."
)
UNABLE_MSG = "Unable to extract document content."
UNKNOWN_EXT_MSG = "Unable to extract content due to unknown extension"

# 300 dpi rasterization scale over 72 dpi user space (reference
# text_extraction.py:157: page.to_image(resolution=300))
RASTER_SCALE = 300.0 / 72.0


@dataclass
class ExtractionResult:
    content: str = ""
    err: str = ""
    extension: str = ""
    mime: str = ""
    extracted_by_ocr: bool = False
    page_count: int | None = None
    ocr_needed_pages: list[int] = field(default_factory=list)


def extract_by_ocr_bytes(
    data: bytes, backend: OcrBackend, doc=None
) -> tuple[bool | None, str]:
    """Whole-document OCR (reference tasks.py:237-251 + convert_file_to_txt
    271-284): per-page plain word assembly joined by form-feed, then the
    literal OCR text fixes.

    Returns (success, content): True = OCR ran and produced text;
    False = OCR ran and failed (the reference's sentinel path);
    None = no OCR engine is available (pluggable backend raised
    NotImplementedError) — the caller must keep its layout text, as if
    ocr_available were false.

    Availability is DOCUMENT-granular by design: a real engine (the
    reference's tesseract) is installed or it isn't — that is a
    deployment property, not a page property — so the first
    NotImplementedError aborts the whole document and discards any pages
    already assembled.  Emitting the partial text instead would label a
    mix of OCR'd and non-OCR'd pages ``extracted_by_ocr=True``, which
    downstream quality gates treat as a uniform provenance claim.  (Only
    the synthetic test backend can raise on some pages and not others.)"""
    try:
        doc = doc or parse_pdf(data)
    except Exception:
        return False, OCR_FAIL_MSG
    parts: list[str] = []
    for page in doc.pages:
        try:
            words = backend(page, False)
        except NotImplementedError:
            return None, ""
        if words is None:
            return False, OCR_FAIL_MSG
        parts.append(assemble_page_text_plain(words))
    return True, cleanup_ocr_text("\f".join(parts))


def extract_from_pdf_bytes(
    data: bytes,
    ocr_available: bool = False,
    backend: OcrBackend = synthetic_ocr_backend,
    doc=None,
) -> tuple[str, str, int, bool]:
    """The flagship PDF flow (reference tasks.py:194-234): layout text
    first; without OCR, mojibake-fix when the text has no 'e'; with OCR,
    gate on empty-text-or-images and keep the longer of the two texts."""
    content, err, rc = extract_pdf_layout_text(data, doc)
    extracted_by_ocr = False
    if not ocr_available:
        if looks_mojibake(content):
            content = fix_mojibake(content)
    elif ocr_needed(data, content):
        success, ocr_content = extract_by_ocr_bytes(data, backend, doc)
        if success:
            if len(ocr_content) > len(content):
                content = ocr_content
                extracted_by_ocr = True
        elif success is False:
            # exact reference parity (tasks.py:231-232): its
            # `elif content == "" or not success` is always true on the
            # failure branch, so a failed OCR replaces even non-empty
            # layout text with the sentinel
            content = UNABLE_MSG
        # success is None: no OCR engine available — keep the layout text
    return content, err, rc, extracted_by_ocr


def extract_recap_pdf_bytes(
    data: bytes,
    strip_margin: bool = False,
    backend: OcrBackend = synthetic_ocr_backend,
    doc=None,
) -> tuple[str, bool, list[int]]:
    """The pdfplumber+OCR hybrid flow (reference tasks.py:683-703 +
    get_page_text text_extraction.py:32-69): per page, layout text with
    optional margin crop + skew drop, per-page OCR fallback, pages joined
    with a leading newline, document-level whitespace normalize.

    Returns (content, extracted_by_ocr, ocr_page_numbers)."""
    doc = doc or parse_pdf(data)
    content = ""
    extracted_by_ocr = False
    ocr_pages: list[int] = []
    for page in doc.pages:
        band = strip_margin_band(page) if strip_margin else None
        if page.chars:  # glyph-accurate (real-PDF) pdfplumber analog
            page_text = plumber_layout_text(
                page, drop_skewed=band is not None, crop_band=band
            )
        else:  # fixed-pitch synthetic contract
            page_text = layout_page_text(
                page, drop_skewed=band is not None, crop_band=band
            )
        page_text = remove_excess_whitespace(page_text)
        if page_needs_ocr(page, page_text):
            extracted_by_ocr = True
            ocr_pages.append(page.number)
            try:
                words = backend(page, strip_margin)
            except NotImplementedError:
                words = None
            if words is not None:
                img_width = page.width * RASTER_SCALE
                page_text = assemble_page_text(
                    words, img_width, page.number, strip_margin
                )
        content += f"\n{page_text}"
    return remove_excess_whitespace(content), extracted_by_ocr, ocr_pages


def extract_document(
    url: str,
    data: bytes,
    *,
    ocr_available: bool = False,
    strip_margin: bool = False,
    recap_mode: bool = False,
    backend: OcrBackend = synthetic_ocr_backend,
) -> ExtractionResult:
    """One document through classify-then-parse — the vectorized-UDF unit of
    work.  Never raises: poison documents produce an ``err`` record
    (the Spark analog of the reference's 500-with-Sentry path,
    views.py:151-179)."""
    res = ExtractionResult()
    doc = None
    try:
        mime, extension = classify(url, data)
        res.mime, res.extension = mime, extension
        if extension == "pdf":
            # parse ONCE; layout, OCR, and page-count flows all share the
            # parsed document (profiled: re-parsing was 2.25× per doc and
            # ~45% of total PDF cost)
            try:
                # runs on glyph-accurate pages are never read by these
                # flows (layout uses the chars engines) — skip building
                # one TextRun per TJ fragment
                doc = parse_pdf(data, build_runs=False)
            except Exception:
                doc = None
            if recap_mode:
                content, by_ocr, ocr_pages = extract_recap_pdf_bytes(
                    data, strip_margin=strip_margin, backend=backend, doc=doc
                )
                res.content, res.extracted_by_ocr = content, by_ocr
                res.ocr_needed_pages = ocr_pages
            else:
                content, err, _rc, by_ocr = extract_from_pdf_bytes(
                    data, ocr_available=ocr_available, backend=backend, doc=doc
                )
                res.content, res.err = content, err or ""
                res.extracted_by_ocr = by_ocr
        elif extension == "html":
            res.content, res.err, _rc = extract_from_html_bytes(data)
        elif extension == "txt":
            res.content, res.err, _rc = decode_txt(data)
        elif extension == "docx":
            res.content, res.err, _rc = extract_from_docx_bytes(data)
        elif extension == "wpd":
            from .wpd import extract_from_wpd_bytes

            res.content, res.err, _rc = extract_from_wpd_bytes(data)
        elif extension == "doc":
            from .msdoc import extract_from_doc_bytes

            res.content, res.err, _rc = extract_from_doc_bytes(data)
        else:
            res.err = UNKNOWN_EXT_MSG
        res.page_count = get_page_count(data, res.extension, doc)
    except Exception as exc:  # poison-document backstop
        res.err = f"extraction failure: {type(exc).__name__}: {exc}"
    return res
