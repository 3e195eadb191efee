"""BM25 ranked retrieval — formula exactness on a tiny corpus, tie-break
determinism, guard behavior, and the broadcast-pruned plan shape."""

import math

import pytest
from pyspark.sql import functions as F

from doctor_spark.operators.ranking import bm25_topk
from doctor_spark.plans.checks import count_exchanges, physical_plan

MICRO = 1_000_000


def _expected_bm25(corpus, query, k1=1.2, b=0.75):
    """Mini-oracle: replay the operator's exact arithmetic (micro-
    quantized idf, per-term floor, int sum) in plain Python floats —
    the same IEEE doubles both engines use."""
    toks = {d: t.lower().split() for d, t in corpus.items() if t.strip()}
    n = len(toks)
    avgdl = sum(len(t) for t in toks.values()) / n
    qterms = sorted(set(query.lower().split()))
    scores = {}
    for term in qterms:
        df = sum(1 for t in toks.values() if term in t)
        if df == 0:
            continue
        idf_micro = math.floor(
            math.log((n - df + 0.5) / (df + 0.5) + 1.0) * MICRO + 0.5
        )
        for d, t in toks.items():
            tf = t.count(term)
            if tf == 0:
                continue
            tfn = (tf * (k1 + 1.0)) / (
                tf + k1 * (1.0 - b + b * (len(t) / avgdl))
            )
            scores[d] = scores.get(d, 0) + math.floor(
                idf_micro * tfn + 0.5
            )
    return scores


@pytest.fixture(scope="module")
def tiny(spark):
    rows = [
        (1, "spark join join"),
        (2, "join filter"),
        (3, "window scan table"),
        (4, ""),          # guard: empty doc excluded from N and avgdl
        (5, None),        # guard: null doc excluded
    ]
    return spark.createDataFrame(rows, "doc_id long, text string")


def _queries(spark, *texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "query_id long, query_text string"
    )


class TestBm25:
    def test_scores_match_formula(self, spark, tiny):
        q = _queries(spark, "join spark")
        out = {
            r["doc_id"]: r["score_micro"]
            for r in bm25_topk(tiny, q, k=10).collect()
        }
        exp = _expected_bm25(
            {1: "spark join join", 2: "join filter", 3: "window scan table"},
            "join spark",
        )
        assert out == exp
        # d1 has both terms (one twice): strictly ahead of d2 (join only)
        assert exp[1] > exp[2] and 3 not in exp

    def test_rank_and_tiebreak(self, spark, tiny):
        # 'filter' and 'window scan table' docs never tie here, but two
        # docs with identical token multisets MUST tie and break by id.
        docs = spark.createDataFrame(
            [(7, "alpha beta"), (3, "alpha beta"), (9, "alpha gamma")],
            "doc_id long, text string",
        )
        out = bm25_topk(docs, _queries(spark, "alpha beta"), k=3).collect()
        assert [(r["rank"], r["doc_id"]) for r in out] == [
            (1, 3), (2, 7), (3, 9)
        ]
        assert out[0]["score_micro"] == out[1]["score_micro"]

    def test_k_cuts_and_score_column(self, spark, tiny):
        q = _queries(spark, "join")
        out = bm25_topk(tiny, q, k=1).collect()
        assert len(out) == 1 and out[0]["rank"] == 1
        assert out[0]["score"] == round(out[0]["score_micro"] / MICRO, 6)

    def test_absent_term_contributes_nothing(self, spark, tiny):
        out = bm25_topk(tiny, _queries(spark, "zzz"), k=5).collect()
        assert out == []

    def test_multi_query_independent(self, spark, tiny):
        q = _queries(spark, "join", "window")
        out = bm25_topk(tiny, q, k=10)
        by_q = {
            r["query_id"]: r["doc_id"]
            for r in out.where(F.col("rank") == 1).collect()
        }
        assert by_q[0] in (1, 2) and by_q[1] == 3


class TestBm25Plan:
    def test_broadcast_pruned_no_sort_merge(self, spark, tiny):
        q = _queries(spark, "join spark", "window")
        plan = physical_plan(bm25_topk(tiny, q, k=10))
        # every join carries the tiny query/idf/stats side → broadcast
        assert "SortMergeJoin" not in plan
        assert "BroadcastHashJoin" in plan
        # no corpus-sized cartesian: the only nested-loop joins are the
        # 1-row stats scalar attach
        assert plan.count("CartesianProduct") == 0

    def test_bounded_exchange_count(self, spark, tiny):
        q = _queries(spark, "join spark")
        n = count_exchanges(bm25_topk(tiny, q, k=10))
        # post-checkpoint stages only (tf is localCheckpoint-pinned):
        # df agg + scalar stats + qterms/dfs/stats broadcasts + score
        # agg + top-k window; anything beyond is a regression
        assert n <= 7, n
