"""Text-analysis column functions for training-data pipelines.

Language-ID (stopword-hit heuristic), quality scoring, token counting, and
document fingerprinting — each a pure Column expression over built-in
functions so Catalyst codegens the whole thing (no Python in the plan).
Every function has an exact ANSI-SQL mirror used as the DuckDB oracle in
the ``doctor_spark.queries`` family modules; keep the two in sync.
"""

from __future__ import annotations

import re

from pyspark.sql import Column, functions as F

from ..arrow import row_udf

# stopword inventories for the language-ID heuristic: top function words
# per language (public frequency-list knowledge).  Dict order is the
# argmax tie-break order; the first four keys keep round-1..3 precedence
# (en > fr > es > de) so earlier contracts are unchanged on ties.
LANG_STOPWORDS: dict[str, tuple[str, ...]] = {
    "en": ("the", "and", "of", "to", "in", "is", "that", "it", "was",
           "for", "on", "are", "with", "as", "be", "at", "this", "have",
           "from", "or", "had", "by", "not", "but"),
    "fr": ("le", "la", "les", "et", "de", "un", "est", "une", "des", "du",
           "en", "que", "qui", "dans", "pour", "pas", "au", "sur", "ne",
           "se", "ce", "il", "elle", "avec", "mais"),
    "es": ("el", "los", "y", "de", "que", "es", "una", "en", "la", "las",
           "un", "del", "se", "por", "con", "para", "su", "al", "lo",
           "como", "más", "pero", "sus", "ha"),
    "de": ("der", "die", "das", "und", "ist", "nicht", "ein", "eine",
           "zu", "den", "von", "mit", "auf", "für", "im", "dem", "sich",
           "des", "ich", "war", "er", "sie", "aber", "auch", "als"),
    "it": ("il", "di", "che", "è", "per", "della", "con", "non", "si",
           "dei", "nel", "alla", "gli", "come", "anche", "più", "ma",
           "sono", "questo", "essere", "e", "in", "la", "un"),
    "pt": ("o", "os", "as", "do", "da", "em", "uma", "não", "no", "na",
           "dos", "mais", "foi", "ele", "são", "pelo", "pela", "até",
           "isso", "há"),
    "nl": ("het", "een", "van", "dat", "op", "te", "zijn", "met", "voor",
           "niet", "aan", "er", "om", "ook", "dan", "maar", "bij", "uit",
           "naar", "dit", "en", "de", "is", "in"),
    "pl": ("i", "w", "się", "na", "nie", "z", "do", "to", "że", "jest",
           "po", "co", "tak", "jak", "o", "ale", "od", "za", "przez",
           "był", "przy", "czy", "tylko", "już"),
    "sv": ("och", "att", "det", "som", "på", "är", "av", "den", "till",
           "inte", "om", "ett", "han", "var", "jag", "så", "har", "hon",
           "vid", "kan"),
    "da": ("og", "at", "det", "er", "den", "til", "af", "på", "som",
           "der", "ikke", "med", "han", "et", "var", "jeg", "har", "om",
           "men", "sig", "så"),
    "no": ("og", "er", "det", "som", "på", "til", "av", "at", "den",
           "for", "med", "ikke", "om", "han", "et", "var", "jeg", "har",
           "så", "seg", "hadde", "fikk", "etter", "ble"),
    "fi": ("ja", "on", "ei", "että", "oli", "hän", "se", "en", "mutta",
           "kun", "niin", "joka", "myös", "ovat", "jos", "mitä", "tämä",
           "ole", "sen", "vain"),
    "ro": ("și", "în", "cu", "pe", "este", "care", "din", "nu", "mai",
           "pentru", "sunt", "dar", "ca", "fost", "său", "această",
           "sau", "când", "dacă", "fi"),
    "cs": ("a", "se", "na", "je", "v", "že", "s", "ale", "pro", "jako",
           "jsou", "byl", "za", "po", "jeho", "který", "už", "tak",
           "nebo", "když"),
    "tr": ("ve", "bir", "bu", "da", "için", "ile", "çok", "daha", "ama",
           "gibi", "en", "ki", "ne", "var", "olarak", "sonra", "kadar",
           "her", "değil", "olan", "de"),
    "id": ("yang", "dan", "di", "itu", "dengan", "untuk", "tidak", "ini",
           "dari", "dalam", "akan", "pada", "juga", "saya", "ke",
           "karena", "ada", "mereka", "sebagai", "oleh"),
    "vi": ("và", "của", "là", "có", "trong", "được", "các", "một",
           "cho", "không", "người", "này", "với", "những", "đã", "khi",
           "đến", "từ", "về", "cũng"),
    "hu": ("az", "és", "hogy", "nem", "egy", "meg", "ha", "már", "csak",
           "van", "volt", "mint", "még", "el", "ki", "be", "vagy",
           "nagy", "lesz", "kell"),
}

# script routing for languages written without (reliable) spaces or in
# non-Latin scripts: explicit BMP codepoint ranges (NOT \p{script} — the
# Java and RE2 spellings differ; literal ranges mean the Spark pattern and
# the DuckDB oracle pattern are character-for-character the same set).
# Dict order is the script tie-break order (after Latin, which wins ties).
SCRIPT_RANGES: dict[str, str] = {
    "zh": "[一-鿿]",            # Han → zh, unless kana present
    "ja": "[぀-ヿ]",            # Hiragana + Katakana
    "ko": "[가-힯ᄀ-ᇿ]",  # Hangul syllables + jamo
    "ar": "[؀-ۿ]",
    "ru": "[Ѐ-ӿ]",            # Cyrillic → ru (coarse)
    "el": "[Ͱ-Ͽ]",
    "he": "[֐-׿]",
    "th": "[฀-๿]",
    "hi": "[ऀ-ॿ]",            # Devanagari → hi (coarse)
}
LATIN_CLASS = "[A-Za-zÀ-ɏḀ-ỿ]"

_PUNCT_CLASS = r"[.,;:!?'\"()\[\]-]"


def tokens(col: Column) -> Column:
    """Whitespace tokens of lower-cased trimmed text."""
    return F.split(F.trim(F.lower(col)), r"\s+")


def token_count(col: Column) -> Column:
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.size(tokens(col))
    )


def punct_ratio(col: Column) -> Column:
    """Fraction of characters that are punctuation (rounded 4dp — per-row
    arithmetic, so exact across engines)."""
    n = F.length(col)
    stripped = F.length(F.regexp_replace(col, _PUNCT_CLASS, ""))
    return F.round(
        F.when(n == 0, F.lit(0.0)).otherwise((n - stripped) / n), 4
    )


def stopword_ratio(col: Column, lang: str = "en") -> Column:
    words = LANG_STOPWORDS[lang]
    toks = tokens(col)
    hits = F.size(
        F.filter(toks, lambda t: t.isin(*words))
    )
    return F.round(
        F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(hits / F.size(toks)), 4
    )


def mean_word_len(col: Column) -> Column:
    toks = tokens(col)
    total = F.aggregate(
        F.transform(toks, lambda t: F.length(t)), F.lit(0), lambda a, v: a + v
    )
    return F.round(
        F.when(F.size(toks) == 0, F.lit(0.0)).otherwise(total / F.size(toks)), 4
    )


def quality_score(col: Column) -> Column:
    """Composite quality score in [0,1]: length factor, low punctuation,
    reasonable stopword density — the shape of C4-style web-text quality
    filters, deterministic and SQL-mirrorable."""
    n_tok = token_count(col)
    len_factor = F.least(n_tok / F.lit(50.0), F.lit(1.0))
    punct_pen = F.greatest(F.lit(0.0), F.lit(1.0) - punct_ratio(col) * 5)
    stop = stopword_ratio(col, "en")
    stop_factor = F.least(stop * 4, F.lit(1.0))
    return F.round((len_factor + punct_pen + stop_factor) / 3, 4)


def lang_stop_hits(col: Column, lang: str) -> Column:
    words = LANG_STOPWORDS[lang]
    return F.size(F.filter(tokens(col), lambda t: t.isin(*words)))


def script_char_count(col: Column, script: str) -> Column:
    """Count of characters in the script's codepoint range (JVM
    regexp_count; the oracle mirrors with the same literal class)."""
    return F.regexp_count(col, F.lit(SCRIPT_RANGES[script]))


def lang_guess(col: Column) -> Column:
    """Two-stage language ID, fully Column-expression (JVM) and exactly
    SQL-mirrorable:

    1. script vote: per-script character counts (explicit BMP ranges).
       If a non-Latin script strictly outnumbers Latin letters the doc
       routes by script — Han → ja when any kana present else zh,
       Hangul → ko, Arabic → ar, Cyrillic → ru, Greek → el, Hebrew → he,
       Thai → th, Devanagari → hi.  This handles scripts without spaces,
       which a stopword scorer can never see.
    2. Latin stopword argmax over the 18 LANG_STOPWORDS inventories;
       ties break in dict order (en first — the round-1 contract);
       zero hits everywhere → 'und'.

    No letters at all → 'und'."""
    script_hits = {s: script_char_count(col, s) for s in SCRIPT_RANGES}
    latin = F.regexp_count(col, F.lit(LATIN_CLASS))
    best_script = F.greatest(latin, *script_hits.values())

    stop_hits = {lg: lang_stop_hits(col, lg) for lg in LANG_STOPWORDS}
    best_stop = F.greatest(*stop_hits.values())
    latin_expr = F.when(best_stop == 0, F.lit("und"))
    for lg in LANG_STOPWORDS:  # insertion order = tie-break order
        latin_expr = latin_expr.when(stop_hits[lg] == best_stop, F.lit(lg))
    latin_expr = latin_expr.otherwise(F.lit("und"))

    expr = F.when(best_script == 0, F.lit("und"))
    expr = expr.when(latin == best_script, latin_expr)  # Latin wins ties
    for s in SCRIPT_RANGES:  # insertion order = script tie-break order
        if s == "zh":
            expr = expr.when(
                script_hits["zh"] == best_script,
                F.when(script_hits["ja"] > 0, F.lit("ja")).otherwise(
                    F.lit("zh")
                ),
            )
        else:
            expr = expr.when(script_hits[s] == best_script, F.lit(s))
    return expr.otherwise(F.lit("und"))


def lang_guess_udf():
    """Arrow-batched kernel mirroring :func:`lang_guess` bit-for-bit (the
    Column form evaluates 18 interpreted higher-order filters per row;
    the kernel is one pass per doc).  Differential-tested against the
    Column spec on the corpus + hostile strings."""
    import re as _re

    script_res = {s: _re.compile(SCRIPT_RANGES[s]) for s in SCRIPT_RANGES}
    latin_re = _re.compile(LATIN_CLASS)
    stop_sets = {lg: frozenset(ws) for lg, ws in LANG_STOPWORDS.items()}
    ws_re = _re.compile(r"[ \t\n\x0b\f\r]+")  # Java \s mirror

    def guess(text):
        t = text or ""
        script_hits = {s: len(r.findall(t)) for s, r in script_res.items()}
        latin = len(latin_re.findall(t))
        best_script = max(latin, *script_hits.values())
        if best_script == 0:
            return "und"
        if latin == best_script:
            toks = ws_re.split(t.strip(" ").lower())
            hits = {
                lg: sum(1 for tk in toks if tk in sw)
                for lg, sw in stop_sets.items()
            }
            best = max(hits.values())
            if best == 0:
                return "und"
            return next(lg for lg in stop_sets if hits[lg] == best)
        for s in script_res:
            if script_hits[s] == best_script:
                if s == "zh":
                    return "ja" if script_hits["ja"] > 0 else "zh"
                return s

    return row_udf(guess, "string")


# GPT-2-style pre-tokenizer shape (public pattern family): contractions,
# letter runs, digit runs, punctuation runs, whitespace runs — expressed in
# RE2/Java-compatible syntax so the DuckDB oracle matches byte-for-byte
# whitespace spelled out as the explicit Java class: RE2 (the DuckDB
# oracle engine) excludes \x0b from \s, Java includes it
BPE_TOKEN_PATTERN = (
    r"'s|'t|'re|'ve|'m|'ll|'d"
    r"| ?[A-Za-z]+| ?[0-9]+| ?[^A-Za-z0-9 \t\n\x0b\f\r]+|[ \t\n\x0b\f\r]+"
)


def bpe_token_count(col: Column) -> Column:
    """Count of BPE-ish pre-tokens (the approximation of tokenizer cost a
    training-data pipeline budgets by)."""
    return F.size(F.regexp_extract_all(col, F.lit(BPE_TOKEN_PATTERN), 0))


def normalized_text(col: Column) -> Column:
    return F.regexp_replace(F.trim(F.lower(col)), r"\s+", " ")


def fingerprint(col: Column) -> Column:
    """Deterministic document fingerprint: md5 of whitespace-normalized
    lower-cased text (the exact-dedup key)."""
    return F.md5(normalized_text(col).cast("binary"))


# --------------------------------------------------------------------------
# Readability (Flesch 1948 / Kincaid et al. 1975) — the audience-level
# signal education-filtered corpora (FineWeb-Edu-class) bucket on.  Both
# sub-measures are deliberately SQL-replayable simplifications of their
# linguistic ideals, spec'd here as the contract:
#   syllables(token) = max(1, count of [aeiouy]+ runs in the lowercased
#     token) — no silent-e or -le handling (documented deviation from
#     dictionary syllabification; deterministic and language-blind);
#   sentences(text)  = max(1, count of [.!?]+ terminal runs) — the
#     regex twin of kernels/sentences.py without the abbreviation
#     inventory (a corpus-stat simplification, NOT a segmentation
#     replacement; use the kernel where boundaries matter).
# All arithmetic is per-row double math with one terminal round(…, 4),
# identical IEEE ops in both engines.  Pure Column exprs, zero Python.
# --------------------------------------------------------------------------

VOWEL_GROUP_RE = "[aeiouy]+"
SENTENCE_RUN_RE = "[.!?]+"


def syllable_count(col: Column) -> Column:
    """Total spec-syllables over the whitespace tokens; 0 for blank."""
    total = F.aggregate(
        F.transform(
            tokens(col),
            lambda t: F.greatest(
                F.lit(1), F.regexp_count(t, F.lit(VOWEL_GROUP_RE))
            ),
        ),
        F.lit(0),
        lambda a, v: a + v,
    )
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(total)


def sentence_run_count(col: Column) -> Column:
    """Spec-sentences: terminal-punctuation runs, min 1 for non-blank."""
    return F.when(F.length(F.trim(col)) == 0, F.lit(0)).otherwise(
        F.greatest(F.lit(1), F.regexp_count(col, F.lit(SENTENCE_RUN_RE)))
    )


def readability_metrics(col: Column) -> dict[str, Column]:
    """``n_words / n_sentences / n_syllables / fk_grade / flesch_ease``
    as named Columns.  Grades are NULL for blank text (no words, no
    reading level), never a division error."""
    w = token_count(col).cast("double")
    s = sentence_run_count(col).cast("double")
    y = syllable_count(col).cast("double")
    fk = F.round(
        F.lit(0.39) * (w / s) + F.lit(11.8) * (y / w) - F.lit(15.59), 4
    )
    ease = F.round(
        F.lit(206.835) - F.lit(1.015) * (w / s) - F.lit(84.6) * (y / w), 4
    )
    blank = w == 0
    return {
        "n_words": w.cast("bigint"),
        "n_sentences": s.cast("bigint"),
        "n_syllables": y.cast("bigint"),
        "fk_grade": F.when(blank, F.lit(None).cast("double")).otherwise(fk),
        "flesch_ease": F.when(
            blank, F.lit(None).cast("double")
        ).otherwise(ease),
    }


# --------------------------------------------------------------------------
# Character-entropy gibberish gate (RefinedWeb/Dolma-class signal: kills
# base64 blobs, aaaa-runs, binary spill).  Integer-exact cross-engine via
# the micro-log10 quantization the LM module established: per-count terms
# floor(log10(c)*1e6 + 0.5) are int64, sums are associative, and the final
# division is integer — libm log10 agrees between CPython and DuckDB.
# --------------------------------------------------------------------------

ENTROPY_WS_RE = re.compile(r"[ \t\n\x0b\f\r]+")
LOW_ENTROPY_MICRO = 300_000  # < 0.3 log10-units/char (~1 bit) = gibberish


def _log10_micro(x: int) -> int:
    import math

    return math.floor(math.log10(x) * 1_000_000 + 0.5)


def char_entropy_micro_row(s: str | None) -> int | None:
    """Shannon entropy (log10 units × 1e6, floor-div) of the Java-\\s
    whitespace-normalized text's code points; empty/whitespace-only → 0,
    NULL → NULL.  H·1e6 = (n·m(n) − Σ cᵢ·m(cᵢ)) // n with m = micro-log10."""
    if s is None:
        return None
    from collections import Counter

    norm = " ".join(p for p in ENTROPY_WS_RE.split(s) if p)
    n = len(norm)
    if n == 0:
        return 0
    tot = sum(c * _log10_micro(c) for c in Counter(norm).values())
    return (n * _log10_micro(n) - tot) // n


def char_entropy_udf():
    """Arrow kernel for ``char_entropy_micro_row`` — one pass per row,
    map-only (the per-doc counter never leaves the task; only the SQL
    oracle pays an explode-and-groupBy)."""
    return row_udf(char_entropy_micro_row, "long")


def sentence_stats_udf():
    """Arrow kernel over :func:`..kernels.sentences.sentence_stats_row`:
    per-doc (n_sentences, sum_chars, max_chars) in one map-only batch —
    the rollup sentence-level dedup/packing stages key on."""
    from ..kernels.sentences import sentence_stats_row

    return row_udf(
        sentence_stats_row,
        "struct<n_sentences:long, sum_chars:long, max_chars:long>",
    )


# --------------------------------------------------------------------------
# Gopher quality rules (Rae et al. 2021, §A1.1) — the standard web-text
# filter set for LLM training corpora.  Pure Column expressions; the exact
# SQL mirror lives in doctor_spark.queries.quality._gopher_sql.
# --------------------------------------------------------------------------


def _lines(col: Column) -> Column:
    return F.split(col, "\n")


def symbol_word_ratio(col: Column) -> Column:
    """(# + ellipsis) symbols per word — Gopher drops docs above 0.1.
    Counts both the ASCII '...' and the Unicode '…' form, consistent with
    ellipsis_line_ratio."""
    n_sym = (
        F.length(col) - F.length(F.regexp_replace(col, r"#", ""))
        + (F.length(col) - F.length(F.regexp_replace(col, r"\.\.\.", ""))) / F.lit(3)
        + (F.length(col) - F.length(F.regexp_replace(col, r"…", "")))
    )
    return F.round(
        F.when(token_count(col) == 0, F.lit(0.0)).otherwise(
            n_sym / token_count(col)
        ),
        4,
    )


def bullet_line_ratio(col: Column) -> Column:
    """Fraction of lines starting with a bullet — Gopher drops above 0.9."""
    lines = _lines(col)
    bullets = F.size(
        F.filter(lines, lambda ln: F.trim(ln).startswith("•")
                 | F.trim(ln).startswith("-") | F.trim(ln).startswith("*"))
    )
    return F.round(
        F.when(F.size(lines) == 0, F.lit(0.0)).otherwise(
            bullets / F.size(lines)
        ),
        4,
    )


def ellipsis_line_ratio(col: Column) -> Column:
    """Fraction of lines ending in an ellipsis — Gopher drops above 0.3."""
    lines = _lines(col)
    ell = F.size(
        F.filter(lines, lambda ln: F.rtrim(ln).endswith("...")
                 | F.rtrim(ln).endswith("…"))
    )
    return F.round(
        F.when(F.size(lines) == 0, F.lit(0.0)).otherwise(ell / F.size(lines)),
        4,
    )


def duplicate_line_fraction(col: Column) -> Column:
    """1 - distinct/total lines (empty lines excluded) — repetition gate."""
    lines = F.filter(_lines(col), lambda ln: F.length(F.trim(ln)) > 0)
    return F.round(
        F.when(F.size(lines) == 0, F.lit(0.0)).otherwise(
            F.lit(1.0) - F.size(F.array_distinct(lines)) / F.size(lines)
        ),
        4,
    )


def alpha_word_ratio(col: Column) -> Column:
    """Fraction of words containing at least one alphabetic character —
    Gopher requires ≥ 0.8."""
    toks = tokens(col)
    n_alpha = F.size(F.filter(toks, lambda t: t.rlike("[a-z]")))
    return F.round(
        F.when(token_count(col) == 0, F.lit(0.0)).otherwise(
            n_alpha / token_count(col)
        ),
        4,
    )


def gopher_passes(col: Column) -> Column:
    """The composite Gopher gate: word count in [50, 100k], mean word
    length in [3, 10], symbol ratio ≤ 0.1, bullets ≤ 0.9, ellipses ≤ 0.3,
    alpha words ≥ 0.8, ≥ 2 stopword hits, duplicate lines ≤ 0.3.

    Scale note: the component higher-order expressions are interpreted
    (not codegen'd) and Catalyst re-inlines each reference, so this
    composite re-tokenizes the text several times per row.  Kept as the
    semantic reference / differential-test oracle; the scale path is
    ``gopher_metrics_udf`` below — one Arrow pass per row, bit-identical
    output (tests/test_text_functions.py differential-tests the two)."""
    return (
        token_count(col).between(50, 100_000)
        & mean_word_len(col).between(3.0, 10.0)
        & (symbol_word_ratio(col) <= 0.1)
        & (bullet_line_ratio(col) <= 0.9)
        & (ellipsis_line_ratio(col) <= 0.3)
        & (alpha_word_ratio(col) >= 0.8)
        & (lang_stop_hits(col, "en") >= 2)
        & (duplicate_line_fraction(col) <= 0.3)
    )


# --------------------------------------------------------------------------
# Gopher metrics, Arrow-kernel form (the 100 TB path)
#
# The Column-expression forms above are the semantic contract, but each
# higher-order array expression is interpreted (not codegen'd) and
# CollapseProject re-inlines every reference, so the composite re-tokenizes
# each document ~8×.  This kernel computes all components in ONE pass per
# row inside an Arrow batch and returns a single struct column (one struct,
# not eight columns: a Python-UDF column referenced N times is evaluated N
# times — project the fields from the single column instead).
#
# Bit-exactness mirrors (differential-tested against the Column exprs):
# - tokens: Java `\s+` on the space-trimmed lowered text = re.split on
#   [ \t\n\x0b\f\r]+ keeping leading/trailing empties (Spark split limit -1)
# - F.round(x, 4): BigDecimal.valueOf(x).setScale(4, HALF_UP) — shortest
#   decimal repr then half-up, mirrored with Decimal(repr(x))
# - counts of '#'/'...'/'…' are non-overlapping left-to-right, same as
#   str.count
# --------------------------------------------------------------------------

import re as _re
from decimal import ROUND_HALF_UP, Decimal as _Dec

_JAVA_WS = _re.compile(r"[ \t\n\x0b\f\r]+")
_ALPHA = _re.compile(r"[a-z]")
_EN_STOPS = frozenset(LANG_STOPWORDS["en"])
_Q4 = _Dec("0.0001")

GOPHER_STRUCT = (
    "n_words bigint, mean_word_len double, symbol_ratio double, "
    "bullet_ratio double, ellipsis_ratio double, alpha_ratio double, "
    "dup_line_frac double, passes boolean"
)


def _round4(x: float) -> float:
    """Spark ROUND(double, 4) mirror: shortest-repr decimal, HALF_UP."""
    return float(_Dec(repr(x)).quantize(_Q4, rounding=ROUND_HALF_UP))


def gopher_metrics_row(s: str | None) -> tuple:
    """Pure-Python single-pass Gopher metrics for one document; the unit
    the Arrow kernel vectorizes over.  None → all-None (NULL text yields
    NULL metrics, matching Column-expression NULL propagation)."""
    if s is None:
        return (None,) * 8
    stripped_low = s.lower().strip(" ")  # lower() never maps non-space→space
    toks = _JAVA_WS.split(stripped_low)
    n_tok = len(toks)  # size(tokens()): never 0 (split yields >= 1)
    tc = 0 if not stripped_low else n_tok
    total_len = n_alpha = hits = 0
    alpha_search = _ALPHA.search
    for t in toks:  # one fused pass: mean length, alpha words, stop hits
        total_len += len(t)
        if alpha_search(t):
            n_alpha += 1
        if t in _EN_STOPS:
            hits += 1
    mwl = _round4(total_len / n_tok) if n_tok else 0.0
    n_sym = float(s.count("#") + s.count("...") + s.count("…"))
    sym = 0.0 if tc == 0 else _round4(n_sym / tc)
    lines = s.split("\n")
    n_bullet = n_ell = 0
    ne_total = 0
    ne_seen: set[str] = set()
    for ln in lines:  # one fused pass: bullets, ellipses, duplicate lines
        t = ln.strip(" ")
        if t:
            ne_total += 1
            ne_seen.add(ln)
            if t[0] in "•-*":
                n_bullet += 1
        if ln.rstrip(" ").endswith(("...", "…")):
            n_ell += 1
    bullet = _round4(n_bullet / len(lines))
    ell = _round4(n_ell / len(lines))
    dup = _round4(1.0 - len(ne_seen) / ne_total) if ne_total else 0.0
    alpha = 0.0 if tc == 0 else _round4(n_alpha / tc)
    passes = (
        50 <= tc <= 100_000
        and 3.0 <= mwl <= 10.0
        and sym <= 0.1
        and bullet <= 0.9
        and ell <= 0.3
        and alpha >= 0.8
        and hits >= 2
        and dup <= 0.3
    )
    return (tc, mwl, sym, bullet, ell, alpha, dup, passes)


# --------------------------------------------------------------------------
# PII scrubbing — the standard pre-training redaction pass (emails, phone
# numbers, SSNs, IPv4s → typed placeholders).  Pure Column expressions
# (regexp_replace/regexp_count chains, whole-stage codegen'd, zero
# shuffles); patterns are written in the Java∩RE2 subset (no lookaround,
# no backreferences) so the DuckDB oracle evaluates them identically.
# Scrub ORDER is part of the contract: SSN before phone (both are dashed
# digit groups; the \b guards keep them disjoint but order makes the
# composition deterministic), then email, then IP.
# --------------------------------------------------------------------------

PII_PATTERNS: tuple[tuple[str, str, str], ...] = (
    ("ssn", r"\b\d{3}-\d{2}-\d{4}\b", "<SSN>"),
    ("phone", r"\b\d{3}[-.]\d{3}[-.]\d{4}\b", "<PHONE>"),
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b\d{1,3}\.\d{1,3}\.\d{1,3}\.\d{1,3}\b", "<IP>"),
)


def pii_counts(col: Column) -> dict[str, Column]:
    """Per-kind match counts on the RAW text (before any replacement)."""
    return {
        kind: F.regexp_count(col, F.lit(pat)) for kind, pat, _tok in PII_PATTERNS
    }


def scrub_pii(col: Column) -> Column:
    """Text with every PII match replaced by its typed placeholder, in the
    fixed PII_PATTERNS order."""
    out = col
    for _kind, pat, token in PII_PATTERNS:
        out = F.regexp_replace(out, pat, token)
    return out


# --------------------------------------------------------------------------
# Gopher repetition family (Rae et al. 2021 §A1.1): top {2,3,4}-gram and
# duplicate {5..10}-gram character fractions.
#
# Definitions (engine contract, SQL-mirrorable and overlap-insensitive):
#   top_n_frac  = max over distinct word n-grams of (count × chars(gram))
#                 ÷ chars(text)        — "characters covered by the most
#                 repeated n-gram" (deterministic: no most-common tie-break)
#   dup_n_frac  = Σ over distinct n-grams with count ≥ 2 of (count ×
#                 chars(gram)) ÷ chars(text)  — upper bound on the paper's
#                 positional coverage (overlaps double-count; positions
#                 aren't SQL-expressible, the bound is monotone in the same
#                 gate direction)
# chars(gram) counts the space-joined form (Σ word lens + n − 1); grams are
# over the same Java-\s tokens as every other text function here.
# All work is row-local (n-gram counting per document) — the kernel is a
# zero-shuffle Arrow pass, embarrassingly parallel at any scale.
# --------------------------------------------------------------------------

GOPHER_TOP_THRESHOLDS = {2: 0.20, 3: 0.18, 4: 0.16}
GOPHER_DUP_THRESHOLDS = {5: 0.15, 6: 0.14, 7: 0.13, 8: 0.12, 9: 0.11, 10: 0.10}

REPETITION_STRUCT = (
    ", ".join(f"top{n}_frac double" for n in GOPHER_TOP_THRESHOLDS)
    + ", "
    + ", ".join(f"dup{n}_frac double" for n in GOPHER_DUP_THRESHOLDS)
    + ", passes boolean"
)


def repetition_metrics_row(s: str | None) -> tuple:
    """Row kernel: 9 repetition fractions + the composite gate."""
    if s is None:
        return (None,) * 10
    n_chars = len(s)
    toks = _JAVA_WS.split(s.lower().strip(" "))
    n_tok = len(toks)
    # prefix sums of token lengths → chars of gram [i, i+n) in O(1)
    pref = [0] * (n_tok + 1)
    for i, t in enumerate(toks):
        pref[i + 1] = pref[i] + len(t)
    out: list[float] = []
    ok = True
    for n, thresh, want_dup in (
        [(n, t, False) for n, t in GOPHER_TOP_THRESHOLDS.items()]
        + [(n, t, True) for n, t in GOPHER_DUP_THRESHOLDS.items()]
    ):
        if n_tok < n or n_chars == 0:
            out.append(0.0)
            continue
        counts: dict[tuple, list] = {}
        for i in range(n_tok - n + 1):
            key = tuple(toks[i : i + n])
            e = counts.get(key)
            if e is None:
                counts[key] = [1, pref[i + n] - pref[i] + n - 1]
            else:
                e[0] += 1
        if want_dup:
            cover = sum(c * ln for c, ln in counts.values() if c >= 2)
        else:
            cover = max(c * ln for c, ln in counts.values())
        frac = _round4(cover / n_chars)
        out.append(frac)
        if frac > thresh:
            ok = False
    return (*out, ok)


def repetition_metrics_udf():
    """Arrow-batched struct kernel for the repetition family — one Python
    node, zero shuffles (all counting is per-document)."""
    return row_udf(repetition_metrics_row, f"struct<{REPETITION_STRUCT}>")


def gopher_metrics_udf():
    """Arrow-batched struct kernel: SELECT gopher_metrics_udf()(text) then
    project the fields.  One ArrowEvalPython node in the plan regardless
    of how many components downstream reads."""
    return row_udf(gopher_metrics_row, f"struct<{GOPHER_STRUCT}>")


# ---------------------------------------------------------------------------
# hashed linear quality classifier (fasttext-style scoring machinery)
# ---------------------------------------------------------------------------

QUALITY_HASH_DIM = 1024


def _hash_bucket(tok: Column, dim: int) -> Column:
    """Hashing-trick bucket for a token: 60-bit md5 prefix mod ``dim``
    (the conv→BIGINT idiom shared with the shingle/fingerprint kernels,
    exactly mirrorable as ``('0x' || substr(md5(t),1,15))::BIGINT``)."""
    return F.pmod(
        F.conv(F.substring(F.md5(tok.cast("binary")), 1, 15), 16, 10).cast(
            "long"
        ),
        F.lit(dim),
    )


def _bucket_weight(bucket: Column) -> Column:
    """Deterministic integer weight in [-1000, 1000] for a bucket:
    ``pmod(md5('w' || bucket)[60-bit], 2001) - 1000``.  Integer-exact on
    every engine — no float rounding to drift an oracle."""
    h = F.conv(
        F.substring(
            F.md5(F.concat(F.lit("w"), bucket.cast("string")).cast("binary")),
            1,
            15,
        ),
        16,
        10,
    ).cast("long")
    return F.pmod(h, F.lit(2001)) - F.lit(1000)


def quality_classifier(col: Column, dim: int = QUALITY_HASH_DIM) -> Column:
    """fastText-style linear document classifier over hashed bag-of-words:
    ``score = Σ_tokens W[h(token) mod dim]``, label = ``score > 0`` — the
    scoring machinery of the CCNet / GPT-3 / RefinedWeb quality-filter
    stage, as a pure Column expression (JVM-side ``aggregate`` over the
    token array: zero Python, zero shuffles — the filter is a map over
    the scan at any corpus size).

    The weight table is a deterministic md5-derived stand-in (no trained
    model ships in this sandbox); a real deployment replaces
    ``_bucket_weight`` with ``element_at(lit(weights), bucket + 1)`` or a
    broadcast-joined weight dimension — the plan shape is identical.
    Integer weights keep the score BIGINT-exact cross-engine.

    Returns ``struct(n_tokens BIGINT, score BIGINT, keep BOOLEAN)``;
    whitespace-only documents score 0 with n_tokens = 0 and are kept
    (no evidence either way)."""
    tk = tokens(col)
    score = F.aggregate(
        tk,
        F.lit(0).cast("long"),
        lambda acc, t: acc + _bucket_weight(_hash_bucket(t, dim)),
    )
    empty = F.length(F.trim(col)) == 0
    n_tokens = F.when(empty, F.lit(0)).otherwise(F.size(tk)).cast("long")
    final_score = F.when(empty, F.lit(0)).otherwise(score).cast("long")
    return F.struct(
        n_tokens.alias("n_tokens"),
        final_score.alias("score"),
        (final_score > 0).alias("keep"),
    )


# soft-404 heuristics: the regexes stay inside the Java∩RE2∩DuckDB-safe
# subset the PII scrubber established (no lookaround, no backrefs, no
# \b against unicode), so the gate is portable to any engine that may
# replay it
SOFT404_TITLE_RE = (
    r"(^|[^0-9])404([^0-9]|$)"
    r"|not found|page unavailable|error page"
)
SOFT404_BODY_RE = (
    r"(page|document|resource|article)"
    r"( you requested| you are looking for)?"
    r"( was| is| has been)? not (found|available)"
    r"|no longer (exists|available)|does not exist"
    r"|has been (removed|deleted)"
)
SOFT404_MAX_TOKENS = 60


def soft404_flags(title: Column, text: Column) -> Column:
    """Soft-404 gate (Bar-Yossef et al. 2004, "Sic transit gloria
    telae"): pages that return HTTP 200 but are error pages — a crawl
    quality stage every CC-derived corpus runs before dedup, because
    soft error pages are the single most duplicated template class on
    the web.

    Rules, first match wins (pure Column exprs — zero Python, zero
    shuffles; the gate is a map over the scan at 10^12 rows):

    - ``title``: the <title> matches :data:`SOFT404_TITLE_RE`
      (a 404 numeral or an explicit error phrase);
    - ``body``: the visible text is SHORT (< :data:`SOFT404_MAX_TOKENS`
      whitespace tokens) and matches :data:`SOFT404_BODY_RE` — long
      documents that merely DISCUSS missing pages are not flagged;
    - otherwise: clean.

    Returns ``struct(soft404 BOOLEAN, reason STRING)`` with reason in
    ``('title', 'body', '')``."""
    t_hit = F.lower(F.coalesce(title, F.lit(""))).rlike(SOFT404_TITLE_RE)
    body = F.lower(F.coalesce(text, F.lit("")))
    short = F.size(tokens(text)) < SOFT404_MAX_TOKENS
    b_hit = short & body.rlike(SOFT404_BODY_RE)
    reason = (
        F.when(t_hit, F.lit("title"))
        .when(b_hit, F.lit("body"))
        .otherwise(F.lit(""))
    )
    return F.struct(
        (reason != "").alias("soft404"), reason.alias("reason")
    )


# --------------------------------------------------------------------------
# Unicode normalization cleanup — the ftfy/NFC rung of a C4/Dolma-style
# cleaning recipe.  NFC composition (the UAX#15 form that preserves
# compatibility characters — ligatures and fullwidth forms are content,
# not noise), then three EXPLICIT character sets, enumerated here rather
# than derived from Unicode categories so the DuckDB oracle can replay
# the exact same sets as RE2 classes with no unicode-table dependency:
#
# - UC_SPACE_LIKE -> ' '  : NBSP, OGHAM SPACE, U+2000..200A quads/thins,
#   NNBSP, MMSP, IDEOGRAPHIC SPACE — layout spaces that tokenizers must
#   see as plain spaces;
# - UC_ZERO_WIDTH -> ''   : ZWSP/ZWNJ/ZWJ, WORD JOINER, ZWNBSP/BOM,
#   SOFT HYPHEN — width-less chars that split tokens invisibly and leak
#   from CMS editors;
# - UC_CONTROLS   -> ''   : C0 except \t \n \r, DEL, and the C1 block —
#   transport noise (NFC never produces them).
#
# The three sets are disjoint, so application order is immaterial; the
# kernel and the oracle both measure counts on the NFC'd string.
# No reference counterpart (doctor normalizes whitespace only,
# lib/utils.py); this is the training-data cleaning stage.

UC_SPACE_LIKE = (
    "          "
    "     　"
)
UC_ZERO_WIDTH = "​‌‍⁠﻿­"
UC_CONTROLS = (
    "".join(chr(c) for c in range(0x00, 0x09))      # C0 before \t
    + "\x0b\x0c"                                     # VT, FF
    + "".join(chr(c) for c in range(0x0e, 0x20))     # C0 after \r
    + "\x7f"                                         # DEL
    + "".join(chr(c) for c in range(0x80, 0xa0))     # C1
)

_UC_SPACE_TABLE = {ord(c): " " for c in UC_SPACE_LIKE}
_UC_DROP_TABLE = {ord(c): None for c in UC_ZERO_WIDTH + UC_CONTROLS}

UNICODE_CLEAN_STRUCT = (
    "struct<clean:string, n_space_mapped:int, n_zero_width:int, "
    "n_controls:int, changed:boolean>"
)


def unicode_clean_row(s: str | None) -> tuple:
    """The spec: (clean, n_space_mapped, n_zero_width, n_controls,
    changed) per the module-constant sets; None -> all-null row."""
    import unicodedata as _ud

    if s is None:
        return (None, None, None, None, None)
    t = _ud.normalize("NFC", s)
    n_sp = sum(1 for ch in t if ch in UC_SPACE_LIKE)
    n_zw = sum(1 for ch in t if ch in UC_ZERO_WIDTH)
    n_ctl = sum(1 for ch in t if ch in UC_CONTROLS)
    clean = t.translate(_UC_SPACE_TABLE).translate(_UC_DROP_TABLE)
    return (clean, n_sp, n_zw, n_ctl, clean != s)


def unicode_clean_udf():
    """Vectorized Arrow kernel for :func:`unicode_clean_row` — map-only,
    zero shuffles; the cleaned TEXT itself is oracle-hashed, so the
    NFC implementations of Python and DuckDB (utf8proc) are checked
    against each other on every row."""
    return row_udf(unicode_clean_row, UNICODE_CLEAN_STRUCT)
