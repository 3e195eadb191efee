"""Stem-conflation operator + the pinned literal map the oracle uses."""

import pytest
from pyspark.sql import functions as F


def stem_conflation(*a, **kw):
    from doctor_spark.operators.stemming import stem_conflation as f

    return f(*a, **kw)


class TestStemConflation:
    def test_rollup(self, spark):
        docs = spark.createDataFrame(
            [
                (1, "connect connected connecting"),
                (2, "connection connections connect"),
                (3, "cats cats sky"),
                (4, ""),
                (5, None),
            ],
            "doc_id long, text string",
        )
        out = {
            r["stem"]: (r["n_tokens"], r["n_forms"], r["forms"])
            for r in stem_conflation(docs).collect()
        }
        assert out["connect"] == (
            6, 5,
            "connect,connected,connecting,connection,connections",
        )
        assert out["cat"] == (2, 1, "cats")
        assert out["sky"] == (1, 1, "sky")
        assert len(out) == 3

    def test_oracle_literal_map_matches_kernel(self):
        """The driver oracle's CASE map must be exactly what the kernel
        computes — this is what makes the pinned-literal oracle honest
        (the RAKE/IDN discipline)."""
        from doctor_spark.queries.text import _STEM_ARMS, _STEM_MAP
        from doctor_spark.kernels.porter import porter_stem

        assert _STEM_MAP  # non-empty
        for word, stem in _STEM_MAP.items():
            assert porter_stem(word) == stem, (word, stem)
        # and the map covers every token the synthesis arms emit
        toks = {w for arm in _STEM_ARMS for w in arm.split()}
        assert toks == set(_STEM_MAP)
