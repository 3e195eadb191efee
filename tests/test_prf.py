"""Pseudo-relevance-feedback expansion — query-term exclusion,
co-occurrence selection, integer weights, rank tie-break."""

from doctor_spark.operators.ranking import prf_expansion


def _queries(spark, *texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "query_id long, query_text string"
    )


def _docs(spark, *texts):
    return spark.createDataFrame(
        list(enumerate(texts)), "doc_id long, text string"
    )


class TestPrf:
    def test_expansion_excludes_query_terms(self, spark):
        docs = _docs(
            spark,
            "court ruling appeal verdict",
            "court ruling motion verdict",
            "unrelated words entirely here",
        )
        out = prf_expansion(
            docs, _queries(spark, "court ruling"), k_fb=2, m=10
        ).collect()
        terms = {r["term"] for r in out}
        assert "court" not in terms and "ruling" not in terms
        assert {"appeal", "verdict", "motion"} <= terms

    def test_idf_outweighs_raw_cooccurrence(self, spark):
        # "verdict" appears in BOTH feedback docs (tf=2) but also has
        # df=2; "appeal"/"motion" have tf=1, df=1.  Robertson selection
        # is idf-weighted: 1*idf(1) > 2*idf(2), so the rarer terms lead
        # (tie between them -> term ascending) and verdict is third.
        docs = _docs(
            spark,
            "court ruling appeal verdict",
            "court ruling motion verdict",
            "filler text padding words",
        )
        out = prf_expansion(
            docs, _queries(spark, "court ruling"), k_fb=2, m=3
        ).collect()
        assert [r["term"] for r in out] == ["appeal", "motion", "verdict"]

    def test_weight_is_tf_times_idf_micro(self, spark):
        import math

        docs = _docs(
            spark,
            "court ruling appeal",
            "court ruling appeal",
            "filler text padding",
        )
        out = {
            r["term"]: r["weight_micro"]
            for r in prf_expansion(
                docs, _queries(spark, "court"), k_fb=2, m=10
            ).collect()
        }
        n, df = 3, 2  # "appeal" in 2 of 3 docs, tf summed over 2 fb docs
        idf_micro = math.floor(
            math.log((n - df + 0.5) / (df + 0.5) + 1.0) * 1_000_000 + 0.5
        )
        assert out["appeal"] == 2 * idf_micro

    def test_tie_breaks_term_ascending(self, spark):
        # "alpha" and "beta" have identical tf and df -> alpha first
        docs = _docs(
            spark,
            "court alpha beta",
            "court alpha beta",
            "noise filler words",
        )
        out = prf_expansion(
            docs, _queries(spark, "court"), k_fb=2, m=2
        ).collect()
        assert [r["term"] for r in out] == ["alpha", "beta"]
        assert [r["rank"] for r in out] == [1, 2]

    def test_m_truncates_per_query(self, spark):
        docs = _docs(
            spark,
            "court one two three four five six",
            "court seven eight nine",
        )
        out = prf_expansion(
            docs, _queries(spark, "court"), k_fb=2, m=3
        ).collect()
        assert len(out) == 3
