"""IDN host decoding and homograph detection — host-identity hygiene.

Internationalized domain names arrive in a crawl as ASCII ``xn--``
labels (RFC 5890 A-labels).  Two pipeline stages need the U-label form:

1. **Host identity** — per-host quality tables, mirror grouping and
   robots scoping must treat ``xn--mnchen-3ya.de`` and ``münchen.de``
   as the same host.
2. **Homograph screening** — phishing/spam mirrors register Cyrillic/
   Greek lookalikes of Latin brands (``аррӏе.com``); a training-data
   pipeline wants those flagged (mixed-script labels) and *paired*
   with the ASCII host they imitate (skeleton collision, the Unicode
   TR39 confusable-skeleton idea reduced to the dominant Cyrillic/
   Greek→Latin table).

Reference scope: doctor has no IDN handling; this is a training-data
pipeline extension in the same family as operators/traps.py and
operators/mirrors.py.

Scale shape: decoding is ONE Arrow-batched kernel pass over the host
column (pure Python RFC 3492 arithmetic per *distinct* label — callers
should feed a host table, not a URL table, so the per-row cost lands
on host cardinality, not page count).  Homograph pairing is a keyed
equi-join on the skeleton over the DISTINCT host table — metadata
scale next to the corpus, and broadcastable when the IDN side is small
(it always is: IDN hosts are <1% of a web crawl).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from doctor_spark.arrow import row_map
from doctor_spark.kernels.punycode import decode_idn_host

# Dominant single-script confusables (Unicode TR39 core): Cyrillic and
# Greek letters visually identical to Basic-Latin in common fonts.
# Deliberately small and high-precision — a skeleton COLLISION gates a
# flag, so false positives cost review time at corpus scale.
CONFUSABLE_TO_LATIN = {
    # Cyrillic
    "а": "a", "е": "e", "о": "o", "р": "p", "с": "c", "х": "x",
    "у": "y", "і": "i", "ѕ": "s", "ј": "j", "ԁ": "d", "ԛ": "q",
    "ԝ": "w", "һ": "h", "ӏ": "l", "г": "r", "ԍ": "g", "ь": "b",
    "м": "m", "т": "t", "к": "k", "в": "b", "н": "h",
    # Greek
    "ο": "o", "α": "a", "ν": "v", "ι": "i", "κ": "k", "ρ": "p",
    "τ": "t", "υ": "u", "χ": "x", "ω": "w", "η": "n",
}

_CYRILLIC = (0x0400, 0x04FF)
_GREEK = (0x0370, 0x03FF)


def _label_scripts(label: str) -> tuple[bool, bool]:
    """(has_latin, has_confusable_script) for one decoded label."""
    has_latin = False
    has_conf = False
    for ch in label:
        o = ord(ch)
        if 0x41 <= o <= 0x5A or 0x61 <= o <= 0x7A:
            has_latin = True
        elif _CYRILLIC[0] <= o <= _CYRILLIC[1] or _GREEK[0] <= o <= _GREEK[1]:
            has_conf = True
    return has_latin, has_conf


def host_skeleton(host: str) -> str:
    """Confusable skeleton: every mapped Cyrillic/Greek char replaced by
    its Latin lookalike.  Identity on pure-ASCII hosts."""
    return "".join(CONFUSABLE_TO_LATIN.get(c, c) for c in host)


def _idn_row(h) -> list[tuple]:
    if not isinstance(h, str):
        return [(h, None, None, None, None)]
    idn = any(lb.startswith("xn--") for lb in h.split("."))
    u = decode_idn_host(h) if idn else h
    mx = any(
        (lambda s: s[0] and s[1])(_label_scripts(lb))
        for lb in u.split(".")
    )
    return [(h, u, idn, mx, host_skeleton(u))]


def idn_host_table(hosts: DataFrame, host_col: str = "host") -> DataFrame:
    """``(host, unicode_host, is_idn, mixed_script, skeleton)`` — one
    Arrow kernel pass over the (distinct) host column.

    - ``unicode_host``: every ``xn--`` label punycode-decoded; a
      malformed label passes through undecoded (fail-open per label —
      the kernel contract in kernels/punycode.py).
    - ``is_idn``: any ``xn--`` label present.
    - ``mixed_script``: any decoded label mixing Basic-Latin with
      Cyrillic/Greek — the single strongest homograph signal (TR39
      "single script" restriction level).
    - ``skeleton``: confusable chars folded to Latin — join key for
      :func:`homograph_pairs`.
    """
    base = hosts.select(F.col(host_col).alias("host"))
    return row_map(
        base, _idn_row,
        "host string, unicode_host string, is_idn boolean, "
        "mixed_script boolean, skeleton string",
    )


def homograph_pairs(hosts: DataFrame, host_col: str = "host") -> DataFrame:
    """IDN hosts whose confusable skeleton COLLIDES with a pure-ASCII
    host present in the same corpus: ``(idn_host, unicode_host,
    ascii_host, skeleton, mixed_script)``.

    Shape: distinct → ONE kernel pass → self equi-join on ``skeleton``
    restricted to (idn side) × (ascii side).  The IDN side of a real
    crawl is tiny — mark it broadcast so the pairing is a map-side
    join against the ASCII host table.
    """
    t = idn_host_table(
        hosts.select(F.col(host_col).alias("host")).distinct()
    )
    idn = t.where(
        F.col("is_idn") & (F.col("skeleton") != F.col("unicode_host"))
    ).select(
        F.col("host").alias("idn_host"),
        "unicode_host",
        "skeleton",
        "mixed_script",
    )
    ascii_side = t.where(~F.col("is_idn")).select(
        F.col("host").alias("ascii_host"), F.col("skeleton")
    )
    return F.broadcast(idn).join(ascii_side, "skeleton").select(
        "idn_host", "unicode_host", "ascii_host", "skeleton", "mixed_script"
    )
