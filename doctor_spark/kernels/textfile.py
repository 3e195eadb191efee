"""Plain-text / encoding ladders.

Reimplements the reference's encoding-guess semantics:

- txt extraction  — reference doctor/tasks.py:373-407 (cp1252 first, then
  utf-8 with errors ignored; libmagic encoding detect as last resort —
  here replaced by a charset heuristic)
- html encoding ladder — reference doctor/tasks.py:337-358
  (utf-8 → ISO8859 → cp1252 → latin-1, first that decodes strictly wins)
"""

from __future__ import annotations

HTML_ENCODING_LADDER = ("utf-8", "iso8859-1", "cp1252", "latin-1")


def decode_html_ladder(raw: bytes) -> tuple[str, str] | None:
    """First encoding in the reference ladder that decodes strictly;
    returns (text, encoding) or None (reference tasks.py:348-358).

    Note the reference's ladder is mostly decorative after position 2:
    ISO8859/latin-1 never raise.  We keep the identical order so the chosen
    *encoding label* (and thus any downstream re-encode) matches.
    """
    for enc in HTML_ENCODING_LADDER:
        try:
            return raw.decode(enc), enc
        except UnicodeDecodeError:
            continue
    return None


def as_text(page: str | bytes | bytearray | memoryview | None) -> str | None:
    """A page payload as text, the one input door of the HTML-family
    kernels: bytes-like decode through :func:`decode_html_ladder`, a str
    or None passes through.  The ladder's ISO-8859-1 rung decodes any
    byte string, so bytes always yield text."""
    if isinstance(page, (bytes, bytearray, memoryview)):
        return decode_html_ladder(bytes(page))[0]
    return page


def decode_txt(raw: bytes) -> tuple[str, str, int]:
    """(content, err, returncode) for a plain-text payload.

    cp1252 strict first ("probably still more popular than utf-8",
    reference tasks.py:381-395), utf-8 with errors ignored second,
    latin-1 as the never-fails last resort (standing in for the
    reference's libmagic encoding detection, tasks.py:396-404).
    """
    try:
        return raw.decode("cp1252"), "", 0
    except UnicodeDecodeError:
        pass
    try:
        return raw.decode("utf-8", errors="ignore"), "", 0
    except Exception:  # pragma: no cover - decode(ignore) cannot raise
        pass
    try:
        return raw.decode("latin-1", errors="ignore"), "", 0
    except Exception:
        return "", "An error occurred extracting txt file.", 1
