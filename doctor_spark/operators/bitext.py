"""Bitext sentence-alignment operator — page pairs → aligned-bead table.

The fetch-stage follow-up to ``language_pair_counts``
(operators/metadata.py): once a bitext harvest knows which page pairs
exist (hreflang alternates), it aligns each pair's sentences into
beads and keeps the 1-1 beads as candidate parallel sentences
(ParaCrawl/CCMatrix-style mining, before any learned scorer).

No reference counterpart: doctor stops at document text
(lib/text_extraction.py).  Kernel: :mod:`..kernels.bitext`
(Gale–Church DP, published constants); segmentation:
:mod:`..kernels.sentences`.

Scale shape: one Arrow batch per partition over ``(src_text,
tgt_text)``, explode to one row per bead — map-only, ZERO shuffles at
any scale; at 10^12 pages the alignment cost is embarrassingly
parallel per pair.  A pair whose DP table would exceed
``kernels.bitext.MAX_CELLS`` is emitted as ONE ``ok=false`` row
(bead = -1), never silently truncated.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_BEADS_TYPE = (
    "array<struct<bead:int, ok:boolean, src_start:int, n_src:int, "
    "tgt_start:int, n_tgt:int, src_text:string, tgt_text:string>>"
)


def _beads_udf():
    from ..kernels.bitext import gale_church_align
    from ..kernels.sentences import split_sentences

    def beads(s, t):
        ss = split_sentences(s)
        ts = split_sentences(t)
        al = gale_church_align([len(x) for x in ss], [len(x) for x in ts])
        if al is None:
            return [(-1, False, 0, 0, 0, 0, "", "")]
        return [
            (b, True, si, ns, ti, nt,
             " ".join(ss[si:si + ns]), " ".join(ts[ti:ti + nt]))
            for b, (si, ns, ti, nt) in enumerate(al)
        ]

    return row_udf(beads, _BEADS_TYPE)


def bitext_beads(pairs: DataFrame, src_col: str = "src_text",
                 tgt_col: str = "tgt_text") -> DataFrame:
    """Carried columns plus ``(bead, ok, src_start, n_src, tgt_start,
    n_tgt, src_text, tgt_text)`` — one row per aligned bead in document
    order.  ``n_src``/``n_tgt`` give the bead type (1-1, 2-1, 1-0, ...);
    a 1-0 / 0-1 bead carries the empty string on its empty side.
    Pairs that were aligned produce only ``ok=true`` rows; an
    over-``MAX_CELLS`` pair produces one ``ok=false`` marker row."""
    carried = [c for c in pairs.columns if c not in (src_col, tgt_col)]
    udf = _beads_udf().asNondeterministic()
    return pairs.select(
        *carried,
        F.explode(udf(F.col(src_col), F.col(tgt_col))).alias("_b"),
    ).select(*carried, "_b.*")


def bitext_url_pairs(pages: DataFrame, url_col: str = "url") -> DataFrame:
    """Candidate parallel-page pairs from URL structure alone — the
    STRAND (Resnik & Smith 2003) / ParaCrawl URL-matching heuristic:
    two URLs whose only difference is a language marker
    (``/en/`` vs ``/fr/``, ``en.host`` vs ``fr.host``) are candidate
    translations.  Runs on the frontier itself (no content fetch), so
    it is the rung BEFORE ``hreflang_edges`` (declared alternates) and
    ``bitext_beads`` (content alignment) in a bitext harvest.

    Output: one row per unordered language pair per stem —
    ``(stem, src_lang, src_url, tgt_lang, tgt_url)`` with
    ``src_lang < tgt_lang``; the representative URL per (stem, lang)
    is the minimum (deterministic under URL dedup).

    Scale shape: stem/lang are pure codegen (functions/urls.py);
    then TWO keyed aggregates on the stem — (stem, lang) min-URL with
    map-side partials, then per-stem side collection whose fan-out is
    bounded by a site's LOCALE COUNT (the k² of ~40 langs max, same
    bound as ``language_pair_counts``), pair-expanded JVM-side.  No
    self-join, no window, no Python; a mega-site's stems hash-spread
    across partitions."""
    from ..functions.urls import url_lang, url_lang_stem

    u = F.col(url_col)
    cand = pages.select(
        url_lang_stem(u).alias("stem"),
        url_lang(u).alias("lang"),
        u.alias("_url"),
    ).where(F.col("stem").isNotNull())
    rep = cand.groupBy("stem", "lang").agg(F.min("_url").alias("_url"))
    sides = rep.groupBy("stem").agg(
        F.array_sort(
            F.collect_list(F.struct("lang", "_url"))
        ).alias("_sides")
    ).where(F.size("_sides") >= 2)
    n = F.size("_sides")
    pairs = F.flatten(
        F.transform(
            F.col("_sides"),
            lambda a, i: F.transform(
                F.slice(F.col("_sides"), i + 2, n - i - 1),
                lambda b: F.struct(
                    a["lang"].alias("src_lang"),
                    a["_url"].alias("src_url"),
                    b["lang"].alias("tgt_lang"),
                    b["_url"].alias("tgt_url"),
                ),
            ),
        )
    )
    return sides.select(
        "stem", F.explode(pairs).alias("_p")
    ).select(
        "stem",
        "_p.src_lang", "_p.src_url", "_p.tgt_lang", "_p.tgt_url",
    )
