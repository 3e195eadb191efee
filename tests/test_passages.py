"""Passage extraction over BM25 top-k — window argmax semantics,
tie-break, short-doc clamp."""

import pytest

from doctor_spark.operators.ranking import best_passages


def _queries(spark, *texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "query_id long, query_text string"
    )


class TestBestPassages:
    def test_densest_window_wins(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "x x x x x cat dog cat x x x x x x x x x x x x"),
                (2, "cat x x x x x x x x x x x x x x x x x x dog"),
            ],
            "doc_id long, text string",
        )
        out = {
            r["doc_id"]: r
            for r in best_passages(
                docs, _queries(spark, "cat dog"), k=5, window=4
            ).collect()
        }
        # doc 1: window holding "cat dog cat" (3 hits) starts at 4 or 5
        r1 = out[1]
        assert r1["n_hits"] == 3 and r1["best_off"] in (4, 5)
        assert "cat dog cat" in r1["snippet"]
        # doc 2: hits are far apart -> best any 1-hit window, EARLIEST
        r2 = out[2]
        assert r2["n_hits"] == 1 and r2["best_off"] == 0
        assert r2["snippet"].startswith("cat")

    def test_short_doc_single_window(self, spark):
        docs = spark.createDataFrame(
            [(1, "cat dog")], "doc_id long, text string"
        )
        out = best_passages(
            docs, _queries(spark, "dog"), k=3, window=12
        ).collect()[0]
        assert out["best_off"] == 0 and out["n_hits"] == 1
        assert out["snippet"] == "cat dog"

    def test_rows_are_topk_docs(self, spark):
        docs = spark.createDataFrame(
            [(i, "cat " + "x " * i) for i in range(1, 8)],
            "doc_id long, text string",
        )
        out = best_passages(docs, _queries(spark, "cat"), k=3, window=4)
        assert out.count() == 3
        assert {r["rank"] for r in out.collect()} == {1, 2, 3}
