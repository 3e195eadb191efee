"""Distributed BPE tokenizer training (Sennrich et al. 2016) — the
missing stage between cleaning/dedup and "count the training tokens".

Scaling shape (the one real tokenizer trainers use, e.g. HuggingFace
tokenizers): the CORPUS-scale work is exactly one exchange — aggregate
the corpus to a (word, count) table.  Training then iterates on that
compacted table, whose size is the distinct-word vocabulary, not the
corpus: pair counting is a map-side Arrow kernel + one tiny keyed agg
per merge, the argmax is a single-row driver action (bounded by
contract, like the IVF centroids), and the merge application is again
map-only.  A 100-TB crawl and a 1-GB sample train at the same
per-iteration cost once the word table is built.  Lineage across
iterations is bounded with periodic pins (``session.pin``, the
connected-components discipline).

Exact semantics, engine-portable (this is what the unrolled SQL oracle
in doctor_spark/queries/trainers.py replays level by level):

- words: trim+lower, Java-\\s+ split, empty tokens dropped; words
  containing U+001F excluded (it is the symbol separator in the
  encoded representation both engines share);
- symbols: the word's characters plus a final '</w>' end marker;
- pair counts: every ADJACENT symbol position (overlapping — 'aaa'
  contributes ('a','a') twice), weighted by the word count;
- winner: max total count, ties broken by the BINARY ascending order
  of 'left + U+001F + right' (one comparison key both engines sort
  identically — a (left, right) tuple order would disagree with it
  when a symbol contains a code point below U+001F, so the key IS the
  contract);
- merge application: single left-to-right greedy pass (after a merge
  the scan continues AFTER the merged pair).  Expressed as a fold —
  ``acc[-1] == left and x == right → replace top with left+right`` —
  which is exactly LTR-greedy (the merged symbol can never re-match
  ``left`` unless right were empty) and is what DuckDB's list_reduce
  replays.

Applying the learned table (``bpe_apply_udf``) runs the merges in rank
order over each word, which reproduces the trainer's own final
segmentation of the training corpus (rank-order equivalence: a pair
involving a merged symbol always ranks after the merge that created
it) — pinned by test.
"""

from __future__ import annotations

import re
from typing import Iterator

import pandas as pd
from pyspark.sql import DataFrame, functions as F

from ..arrow import row_map, row_udf
from ..functions.text import tokens
from ..session import pin

SEP = "\x1f"
END = "</w>"


def word_counts(df: DataFrame, text_col: str = "text") -> DataFrame:
    """(word, cnt): the single corpus-scale exchange.  Words containing
    the U+001F separator are excluded by contract."""
    toks = tokens(F.col(text_col))
    return (
        df.select(F.explode(toks).alias("word"))
        .where((F.col("word") != "") & ~F.col("word").contains(SEP))
        .groupBy("word")
        .agg(F.count("*").alias("cnt"))
    )


def encode_word(word: str) -> str:
    """Initial symbol string: chars + end marker, U+001F-joined."""
    return SEP.join(list(word) + [END])


def merge_syms(s: str, left: str, right: str) -> str:
    """One LTR-greedy merge pass over an encoded symbol string (the
    fold form — bit-identical to the oracle's list_reduce)."""
    syms = s.split(SEP)
    acc = [syms[0]]
    target = left + right
    for x in syms[1:]:
        if x == right and acc[-1] == left:
            acc[-1] = target
        else:
            acc.append(x)
    return SEP.join(acc)


def _apply_merges_list(syms: list[str], pending) -> list[str]:
    """Apply ``pending`` merges in order to a symbol LIST — each pass is
    the same LTR-greedy fold as :func:`merge_syms`, without the
    split/join round-trip per merge."""
    for left, right in pending:
        target = left + right
        acc = [syms[0]]
        for x in syms[1:]:
            if x == right and acc[-1] == left:
                acc[-1] = target
            else:
                acc.append(x)
        syms = acc
    return syms


def _pairs_after_merges_kernel(pending: tuple[tuple[str, str], ...]):
    """Fused per-iteration kernel (guide §4.1, §2.3): apply the merges
    learned since the last checkpoint IN-KERNEL (one Python stage instead
    of a stack of per-merge ArrowEvalPython nodes, each a separate
    JVM↔Python crossing of the whole word table), then count adjacent
    pairs with per-batch partial aggregation — one output row per
    DISTINCT pair per batch rather than per occurrence, so the Arrow
    transfer and the exchange carry the pair vocabulary, not the corpus
    position count."""

    def kernel(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            agg: dict[str, int] = {}
            for s, c in zip(pdf["syms"], pdf["cnt"]):
                syms = s.split(SEP)
                if pending:
                    syms = _apply_merges_list(syms, pending)
                c = int(c)
                for i in range(len(syms) - 1):
                    k = syms[i] + SEP + syms[i + 1]
                    agg[k] = agg.get(k, 0) + c
            yield pd.DataFrame(
                {"pair": list(agg.keys()), "cnt": list(agg.values())}
            )

    return kernel


def _apply_merges_kernel(pending: tuple[tuple[str, str], ...]):
    """(syms, cnt) → [(syms, cnt)] with ``pending`` merges applied — the
    checkpoint-refresh form of the fused kernel, one row at a time."""

    def refresh(syms: str, cnt: int) -> list[tuple[str, int]]:
        return [(SEP.join(_apply_merges_list(syms.split(SEP), pending)), cnt)]

    return refresh


def bpe_train(
    wc: DataFrame,
    n_merges: int,
    min_count: int = 1,
    checkpoint_every: int = 8,
) -> list[tuple[int, str, str, int]]:
    """Learn ``n_merges`` merges from a (word, cnt) table.

    Returns [(rank, left, right, freq)] — freq is the pair's total
    count at merge time.  One pair-count job + one single-row collect
    per merge.  Merges learned since the last checkpoint are applied
    INSIDE the pair-count kernel (``_pairs_after_merges_kernel``) rather
    than as stacked per-merge pandas UDFs — iteration k used to re-cross
    the JVM↔Python boundary k-times-since-checkpoint with the whole word
    table; now every iteration is exactly ONE Python stage.  The word
    table is re-materialized (``pin``, with the pending merges
    applied in one kernel) every ``checkpoint_every`` merges to bound
    the in-kernel replay work, and eagerly at entry so the corpus-scale
    word count runs once."""
    words = pin(wc.where(F.col("cnt") >= min_count).select(
        F.concat_ws(
            SEP,
            F.concat(
                F.array_remove(F.split(F.col("word"), ""), ""),
                F.array(F.lit(END)),
            ),
        ).alias("syms"),
        "cnt",
    ))

    merges: list[tuple[int, str, str, int]] = []
    pending: list[tuple[str, str]] = []
    for rank in range(1, n_merges + 1):
        best = (
            words.mapInPandas(
                _pairs_after_merges_kernel(tuple(pending)),
                "pair string, cnt long",
            )
            .groupBy("pair")
            .agg(F.sum("cnt").alias("total"))
            .orderBy(F.col("total").desc(), F.col("pair").asc())
            .limit(1)
            .collect()
        )
        if not best:
            break
        pair, freq = best[0]["pair"], int(best[0]["total"])
        left, right = pair.split(SEP)
        merges.append((rank, left, right, freq))
        pending.append((left, right))
        if len(pending) >= checkpoint_every and rank < n_merges:
            words = pin(row_map(
                words, _apply_merges_kernel(tuple(pending)), "syms string, cnt long"
            ))
            pending = []
    return merges


def bpe_merge_table(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """End-to-end: corpus → word counts → learned merge table as a
    DataFrame (rank, left, right, freq)."""
    spark = df.sparkSession
    merges = bpe_train(word_counts(df, text_col), n_merges, min_count)
    return spark.createDataFrame(
        merges, "rank int, left string, right string, freq long"
    )


def bpe_apply_udf(merges: list[tuple[int, str, str, int]]):
    """Arrow kernel: text → BPE token array, applying the learned
    merges in rank order per word (reproduces the trainer's own
    segmentation of the training corpus)."""
    ordered = [(m[1], m[2]) for m in sorted(merges)]

    ws = re.compile(r"[ \t\n\x0b\f\r]+")
    cache: dict[str, list[str]] = {}

    def word_toks(w: str) -> list[str]:
        got = cache.get(w)
        if got is None:
            s = encode_word(w)
            for left, right in ordered:
                if left in s and right in s:
                    s = merge_syms(s, left, right)
            if len(cache) >= 1 << 16:  # bounded: vocabulary grows per task
                cache.clear()
            got = cache[w] = s.split(SEP)
        return got

    def tokenize(t):
        toks: list[str] = []
        for w in ws.split((t or "").strip(" ").lower()):
            if w and SEP not in w:
                toks.extend(word_toks(w))
        return toks

    return row_udf(tokenize, "array<string>")


def bpe_token_counts(
    df: DataFrame,
    n_merges: int,
    text_col: str = "text",
    min_count: int = 1,
) -> DataFrame:
    """Corpus token table AFTER ``n_merges`` learned merges: train, then
    explode the final word segmentation weighted by word count.

    Output: (token, cnt) — the vocabulary histogram a tokenizer-aware
    mix planner consumes.  The word table re-encodes and replays the
    learned merges through the same fold kernel the trainer used, so
    this is exactly the trainer's final state (the oracle reads its own
    final CTE level and must agree)."""
    wc = pin(word_counts(df, text_col))
    merges = bpe_train(wc, n_merges, min_count)
    words = wc.where(F.col("cnt") >= min_count).select(
        F.concat_ws(
            SEP,
            F.concat(
                F.array_remove(F.split(F.col("word"), ""), ""),
                F.array(F.lit(END)),
            ),
        ).alias("syms"),
        "cnt",
    )
    # replay ALL learned merges in ONE fused kernel with per-batch token
    # aggregation (the stacked per-merge pandas UDFs cost n_merges
    # JVM↔Python crossings of the word table; the explode of occurrence
    # rows cost an occurrence-sized exchange)
    ordered = tuple((left, right) for _rank, left, right, _freq in merges)

    def tok_kernel(batches: "Iterator[pd.DataFrame]"):
        for pdf in batches:
            agg: dict[str, int] = {}
            for s, c in zip(pdf["syms"], pdf["cnt"]):
                c = int(c)
                for t in _apply_merges_list(s.split(SEP), ordered):
                    agg[t] = agg.get(t, 0) + c
            yield pd.DataFrame(
                {"token": list(agg.keys()), "cnt": list(agg.values())}
            )

    return (
        words.mapInPandas(tok_kernel, "token string, cnt long")
        .groupBy("token")
        .agg(F.sum("cnt").alias("cnt"))
    )
