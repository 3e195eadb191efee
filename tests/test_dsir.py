"""DSIR operator (operators/dsir.py): pure-Python reference
differential for the model fit + scoring, libm parity pin for the
Gumbel kernel vs DuckDB, and selection-behavior sanity (target-like
documents get enriched, deterministically)."""

import hashlib
import math
import re

import duckdb
import pytest
from pyspark.sql import functions as F

from doctor_spark.operators.dsir import (
    DIM,
    dsir_llr_table,
    dsir_resample,
    dsir_scores,
    grams,
)

_WS = re.compile(r"[ \t\n\x0b\f\r]+")


def _ref_tokens(text):
    return _WS.split(text.lower().strip(" "))


def _ref_grams(text):
    tk = _ref_tokens(text)
    return tk + [f"{a} {b}" for a, b in zip(tk, tk[1:])]


def _ref_bucket(g, dim=DIM):
    return int(hashlib.md5(g.encode()).hexdigest()[:15], 16) % dim


def _ref_lp(c, total, dim=DIM):
    return math.floor(math.log10((c + 1) / (total + dim)) * 1e6 + 0.5)


CORPUS = [
    # "target-like" style: legal boilerplate vocabulary
    (1, "the court finds the motion well taken and grants the motion"),
    (2, "the appellant argues the court erred in denying the motion"),
    (3, "the court denies the petition for rehearing en banc"),
    (4, "oral argument the court holds the judgment is affirmed"),
    # "raw-like" style: spam vocabulary
    (5, "click here buy cheap pills free shipping click now"),
    (6, "winner winner free prize claim your free prize today"),
    (7, "cheap pills buy now free shipping limited offer"),
    (8, "subscribe click subscribe free newsletter prize inside"),
    (9, "single"),  # one token: no bigrams
]


def _ref_llr(target_ids):
    c_r, c_t = {}, {}
    for doc_id, text in CORPUS:
        for g in _ref_grams(text):
            b = _ref_bucket(g)
            c_r[b] = c_r.get(b, 0) + 1
            if doc_id in target_ids:
                c_t[b] = c_t.get(b, 0) + 1
    tot_r, tot_t = sum(c_r.values()), sum(c_t.values())
    return [
        _ref_lp(c_t.get(b, 0), tot_t) - _ref_lp(c_r.get(b, 0), tot_r)
        for b in range(DIM)
    ]


@pytest.fixture(scope="module")
def corpus_df(spark):
    return spark.createDataFrame(CORPUS, "doc_id long, text string")


def test_grams_unigrams_plus_bigrams(corpus_df):
    got = {
        r["doc_id"]: r["g"]
        for r in corpus_df.select(
            "doc_id", grams(F.col("text")).alias("g")
        ).collect()
    }
    for doc_id, text in CORPUS:
        assert got[doc_id] == _ref_grams(text), doc_id
    assert got[9] == ["single"]  # no descending-sequence bigram ghost


def test_llr_table_matches_reference(corpus_df):
    target_ids = {1, 2, 3, 4}
    llr = dsir_llr_table(
        corpus_df, F.col("doc_id") <= 4
    )
    assert llr == _ref_llr(target_ids)
    assert len(llr) == DIM
    # untouched buckets carry the smoothing-only prior, not 0
    touched = {
        _ref_bucket(g) for _, t in CORPUS for g in _ref_grams(t)
    }
    tot_r = sum(len(_ref_grams(t)) for _, t in CORPUS)
    tot_t = sum(len(_ref_grams(t)) for i, t in CORPUS if i in target_ids)
    want_prior = _ref_lp(0, tot_t) - _ref_lp(0, tot_r)
    for b in range(DIM):
        if b not in touched:
            assert llr[b] == want_prior


def test_scores_match_reference(corpus_df):
    llr = dsir_llr_table(corpus_df, F.col("doc_id") <= 4)
    got = {
        r["doc_id"]: (r["n_tok"], r["lw_micro"])
        for r in dsir_scores(corpus_df, llr).collect()
    }
    for doc_id, text in CORPUS:
        n_tok = len(_ref_tokens(text))
        lw = sum(llr[_ref_bucket(g)] for g in _ref_grams(text))
        assert got[doc_id] == (n_tok, lw), doc_id


def test_target_style_enriched(corpus_df):
    """Importance weights must rank every target-style doc above every
    spam-style doc when the target condition selects the legal half —
    the selection-bias property DSIR exists for."""
    llr = dsir_llr_table(corpus_df, F.col("doc_id") <= 4)
    lw = {
        r["doc_id"]: r["lw_micro"]
        for r in dsir_scores(corpus_df, llr).collect()
    }
    legal = [lw[i] for i in (1, 2, 3, 4)]
    spam = [lw[i] for i in (5, 6, 7, 8)]
    assert min(legal) > max(spam)


def test_gumbel_kernel_duckdb_parity(spark):
    """The Arrow Gumbel kernel and the oracle's SQL expression must be
    bit-identical (libm log10 on both sides) across the h grid edges
    and a spread of interior points."""
    hs = [0, 1, 2, 7, 123456, 10**6, 2**20, 2**30, 2**31 - 2, 2**31 - 1]
    df = spark.createDataFrame([(h,) for h in hs], "h long")
    from doctor_spark.micro import micro_udf
    from doctor_spark.operators.dsir import _gumbel

    got = {
        r["h"]: r["g"]
        for r in df.select(
            "h", micro_udf(_gumbel, F.col("h")).alias("g")
        ).collect()
    }
    con = duckdb.connect()
    for h in hs:
        (want,) = con.sql(
            f"SELECT CAST(floor(-log10(-log10(({h}::DOUBLE + 0.5)"
            " / 2.147483648e9)) * 1e6 + 0.5) AS BIGINT)"
        ).fetchone()
        assert got[h] == want, h


def test_resample_deterministic_topk(corpus_df):
    llr = dsir_llr_table(corpus_df, F.col("doc_id") <= 4)
    scored = dsir_scores(corpus_df, llr)
    a = dsir_resample(scored, k=5, salt="s1").collect()
    b = dsir_resample(scored, k=5, salt="s1").collect()
    assert [r.asDict() for r in a] == [r.asDict() for r in b]
    assert [r["rank"] for r in a] == [1, 2, 3, 4, 5]
    keys = [r["key_micro"] for r in a]
    assert keys == sorted(keys, reverse=True)
    # a different salt redraws the noise: same weights, new keys
    c = dsir_resample(scored, k=5, salt="s2").collect()
    assert {r["doc_id"]: r["lw_micro"] for r in c}.items() <= {
        r["doc_id"]: r["lw_micro"]
        for r in dsir_scores(corpus_df, llr).collect()
    }.items()
    assert [r["key_micro"] for r in c] != keys
    # k beyond the corpus returns every doc once
    assert dsir_resample(scored, k=100).count() == len(CORPUS)
