"""PMI collocations — arithmetic on a known corpus and plan shape."""

import math

import pytest

from doctor_spark.micro import MICRO
from doctor_spark.operators.collocations import collocations


def _ml(x: int) -> int:
    return math.floor(math.log10(x) * MICRO + 0.5)


class TestCollocations:
    @pytest.fixture(scope="class")
    def out(self, spark):
        df = spark.createDataFrame(
            [("a b a b a b",), ("a b c",), ("",)], "text string"
        )
        return collocations(df, min_pair=2)

    def test_counts_and_pmi(self, out):
        rows = {(r.w1, r.w2): r for r in out.collect()}
        # bigram instances: doc1 -> ab,ba,ab,ba,ab; doc2 -> ab,bc
        # N_uni = 9 tokens, N_big = 5 + 2 = 7 adjacent pairs
        assert set(rows) == {("a", "b"), ("b", "a")}  # bc count 1 < 2
        ab = rows[("a", "b")]
        assert ab.n_pair == 4
        # n_a = 4, n_b = 4
        assert ab.pmi_micro == (
            _ml(4) + 2 * _ml(9) - _ml(7) - _ml(4) - _ml(4)
        )
        ba = rows[("b", "a")]
        assert ba.n_pair == 2
        assert ba.pmi_micro == (
            _ml(2) + 2 * _ml(9) - _ml(7) - _ml(4) - _ml(4)
        )

    def test_blank_docs_contribute_nothing(self, spark):
        df = spark.createDataFrame([("",), ("   ",)], "text string")
        assert collocations(df, min_pair=1).count() == 0

    def test_single_token_doc_unigram_only(self, spark):
        # "x" alone: no bigram; "x y" twice makes the pair
        df = spark.createDataFrame(
            [("x",), ("x y",), ("x y",)], "text string"
        )
        rows = {(r.w1, r.w2): r for r in collocations(df, min_pair=2).collect()}
        assert set(rows) == {("x", "y")}
        r = rows[("x", "y")]
        # N_uni = 5 (x,x,y,x,y), N_big = 0 + 1 + 1 = 2, n_x = 3, n_y = 2
        assert r.pmi_micro == _ml(2) + 2 * _ml(5) - _ml(2) - _ml(3) - _ml(2)

    def test_corpus_path_is_jvm_only(self, out):
        # Python (the micro-log kernel) may only touch the vocab-sized
        # AGGREGATED tables: in the printed plan (root first, scans
        # last), every EvalPython node must appear BEFORE the first
        # HashAggregate — i.e. above the aggregates, never between an
        # aggregate and a scan.
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        first_agg = final.find("HashAggregate")
        assert first_agg > 0, final
        assert "EvalPython" not in final[first_agg:], final
        assert "CartesianProduct" not in final, final
