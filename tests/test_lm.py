"""CCNet-style stupid-backoff LM: hand-computed scores, backoff/OOV
edges, min_count pruning, and the 100-TB plan shape (broadcast scoring
joins, single ref-corpus materialization, shuffle-join fallback)."""

import math

import pytest

from doctor_spark.micro import MICRO, micro
from doctor_spark.operators.lm import (
    perplexity_buckets,
    score_perplexity,
    train_ngram_lm,
)


def _mu(x: float) -> int:
    return math.floor(math.log10(x) * MICRO + 0.5)


@pytest.fixture(scope="module")
def tiny(spark):
    # N = 6 + 3 + 3 + 3 + 6 + 1 = 22 tokens ('' counts: empty text
    # tokenizes to [''], the repo-wide convention)
    return spark.createDataFrame(
        [
            ("d1", "en", "the cat sat on the mat"),
            ("d2", "en", "the cat sat"),
            ("d3", "en", "a dog ran"),
            ("d4", "fr", "le chat dort"),
            ("d5", "en", "the cat sat on the mat"),
            ("d6", "en", ""),
        ],
        "doc_id string, lang string, text string",
    )


def test_hand_computed_backoff(spark, tiny):
    model, n = train_ngram_lm(tiny, order=3)
    assert n == 22
    s = {
        r["doc_id"]: r
        for r in score_perplexity(tiny, model, n, keep_cols=("lang",))
        .collect()
    }
    # d2 "the cat sat": pos0 uni c(the)=5/22; pos1 bigram 'the cat'=3
    # over c(the)=5; pos2 trigram 'the cat sat'=3 over bigram=3
    assert s["d2"]["n_tok"] == 3
    assert s["d2"]["sum_lp_micro"] == (
        _mu(5 / 22) + _mu(3 / 5) + _mu(3 / 3)
    )
    # d6 "" -> tokens ['']: c('')=1 unigram, scored at order 1
    assert s["d6"]["n_tok"] == 1
    assert s["d6"]["sum_lp_micro"] == _mu(1 / 22)
    # identical docs score identically
    assert s["d1"]["sum_lp_micro"] == s["d5"]["sum_lp_micro"]
    # score = rounded average
    assert s["d2"]["score"] == round(
        s["d2"]["sum_lp_micro"] / (3 * MICRO), 4
    )


def test_oov_and_backoff_penalties(spark, tiny):
    model, n = train_ngram_lm(tiny, order=3)
    a = micro(math.log10(0.4))
    unk = math.floor(math.log10(1 / n) * MICRO + 0.5)
    fresh = spark.createDataFrame(
        [("x1", "en", "zz yy xx"), ("x2", "en", "the cat dort")],
        "doc_id string, lang string, text string",
    )
    s = {
        r["doc_id"]: r
        for r in score_perplexity(fresh, model, n).collect()
    }
    # x1: every gram unseen; att ramps 1,2,3 -> unk + (att-1)*a each
    assert s["x1"]["sum_lp_micro"] == (
        (unk) + (unk + a) + (unk + 2 * a)
    )
    # x2: pos0 'the' uni hit; pos1 'the cat' bigram hit (att=2, order
    # match 2 -> no penalty); pos2 'dort' trigram+bigram miss, unigram
    # c(dort)=1 hit with (att-1)=2 backoffs
    assert s["x2"]["sum_lp_micro"] == (
        _mu(5 / 22) + _mu(3 / 5) + (_mu(1 / 22) + 2 * a)
    )


def test_min_count_prunes_numerators_only(spark, tiny):
    model, n = train_ngram_lm(tiny, order=3, min_count=2)
    rows = {(r["ord"], r["gh"]) for r in model.collect()}
    m1, _ = train_ngram_lm(tiny, order=3, min_count=1)
    all_rows = {(r["ord"], r["gh"]) for r in m1.collect()}
    assert rows < all_rows  # something was pruned
    # singleton unigram 'dort' pruned -> d4 backs off to unk at pos2?
    # no: 'le chat dort' pos2 trigram c=1 pruned, bigram 'chat dort'
    # c=1 pruned, unigram 'dort' c=1 pruned -> unk + 2a
    a = micro(math.log10(0.4))
    unk = math.floor(math.log10(1 / n) * MICRO + 0.5)
    s = {
        r["doc_id"]: r
        for r in score_perplexity(tiny, model, n).collect()
    }
    assert s["d4"]["sum_lp_micro"] == (
        (unk) + (unk + a) + (unk + 2 * a)
    )


def test_buckets_per_lang_terciles(spark, tiny):
    model, n = train_ngram_lm(tiny, order=3)
    s = score_perplexity(tiny, model, n, keep_cols=("lang",))
    b = {r["doc_id"]: r["bucket"] for r in perplexity_buckets(s).collect()}
    # en has 5 docs -> ntile(3) sizes 2,2,1; d1/d5 tie at the top
    # (identical text) -> id tiebreak puts both in head
    assert b["d1"] == "head" and b["d5"] == "head"
    assert b["d6"] == "tail"  # single '' token, worst average
    assert b["d4"] == "head"  # only fr doc


def test_plan_shape(spark, tiny):
    import re

    model, n = train_ngram_lm(tiny, order=3)
    out = score_perplexity(tiny, model, n, broadcast_model=True)
    plan = out._jdf.queryExecution().executedPlan().toString()
    # scalable-by-construction: no cartesian anywhere, scoring joins
    # all broadcast, the only exchanges are the doc aggregate (plus the
    # tiny denominator-count reshuffles, all model-table-sized)
    assert "Cartesian" not in plan
    # the three SCORING joins (candidate k_m vs model mgh_m) must be
    # broadcast — a shuffle there would reshuffle the whole crawl; the
    # denominator counts⋈counts joins inside training MAY be shuffle
    # joins (both sides are model-table-sized)
    assert not any(
        "SortMergeJoin" in ln and "mgh" in ln
        for ln in plan.splitlines()
    )
    assert plan.count("BroadcastHashJoin") >= 3
    # the ref corpus is materialized ONCE: the checkpoint truncates the
    # gram-kernel lineage, so the only Arrow hops left are the scoring
    # candidate expansion (1) plus the lp quantizer on each model-table-
    # sized broadcast side (order of them) — crucially NOT the ref
    # tokenizer, which without the checkpoint appeared 9+ times
    assert plan.count("ArrowEval") <= 1 + 3
    # fallback path: model joins become keyed shuffles, still no
    # cartesian and no broadcast of the (potentially huge) model
    out2 = score_perplexity(tiny, model, n, broadcast_model=False)
    plan2 = out2._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan2
    assert re.search(r"SortMergeJoin|ShuffledHashJoin", plan2)


def test_empty_reference(spark, tiny):
    empty = tiny.where("text IS NULL")
    model, n = train_ngram_lm(empty, order=3)
    assert n == 0 and model.count() == 0
    s = score_perplexity(tiny, model, n).collect()
    # every position scores unk (log10(1/max(N,1)) = 0) + penalties
    a = micro(math.log10(0.4))
    by_id = {r["doc_id"]: r for r in s}
    assert by_id["d6"]["sum_lp_micro"] == 0
    assert by_id["d3"]["sum_lp_micro"] == 0 + a + 2 * a
