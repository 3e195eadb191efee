"""Layout fingerprinting — structural equivalence semantics, tag-soup
tolerance, the cluster rollup, and the pinned oracle literals."""

import pytest


def _kernel():
    from doctor_spark.kernels import layout

    return layout


class TestTagPaths:
    def test_same_template_different_text_same_fp(self):
        k = _kernel()
        a = "<html><body><div><h1>One</h1><p>aaa</p></div></body></html>"
        b = "<html><body><div><h1>Two</h1><p>bbb bbb</p></div></body></html>"
        assert k.layout_fingerprint(a) == k.layout_fingerprint(b)

    def test_slot_multiplicity_ignored_structure_not(self):
        k = _kernel()
        one_p = "<html><body><div><p>x</p></div></body></html>"
        two_p = "<html><body><div><p>x</p><p>y</p></div></body></html>"
        nested = "<html><body><div><div><p>x</p></div></div></body></html>"
        assert k.layout_fingerprint(one_p) == k.layout_fingerprint(two_p)
        assert k.layout_fingerprint(one_p) != k.layout_fingerprint(nested)

    def test_paths(self):
        got = _kernel().tag_paths(
            "<html><body><ul><li>a</li><li>b</li></ul><br></body></html>"
        )
        assert got == [
            "html", "html/body", "html/body/br", "html/body/ul",
            "html/body/ul/li",
        ]

    def test_void_elements_do_not_nest(self):
        got = _kernel().tag_paths("<div><img><p>x</p></div>")
        assert "div/img" in got and "div/p" in got
        assert not any(p.startswith("div/img/") for p in got)

    def test_tag_soup_tolerated(self):
        k = _kernel()
        soup = "<div><p>unclosed<li>stray</div></td>"
        assert isinstance(k.layout_fingerprint(soup), str)
        # mismatched close pops to the matching open element
        got = k.tag_paths("<div><span><p>x</div><p>y</p>")
        assert "div/span/p" in got and "p" in got

    def test_case_insensitive(self):
        k = _kernel()
        assert k.layout_fingerprint("<DIV><P>x</P></DIV>") == \
            k.layout_fingerprint("<div><p>x</p></div>")


class TestLayoutClusters:
    def test_rollup(self, spark):
        from doctor_spark.operators.layout import layout_clusters
        from doctor_spark.kernels.layout import layout_fingerprint

        tpl = "<html><body><div><h1>%s</h1><p>%s</p></div></body></html>"
        rows = [
            (tpl % ("a", "x"), "h1.com"),
            (tpl % ("b", "y"), "h2.com"),
            (tpl % ("c", "z"), "h1.com"),
            ("<html><body><table><tr><td>t</td></tr></table></body></html>",
             "h3.com"),
            (None, "h4.com"),
        ]
        df = spark.createDataFrame(rows, "html string, host string")
        out = {
            r["layout_fp"]: (r["n_pages"], r["n_hosts"], r["hosts"])
            for r in layout_clusters(df).collect()
        }
        fp_tpl = layout_fingerprint(tpl % ("q", "w"))
        assert out[fp_tpl] == (3, 2, "h1.com,h2.com")
        assert len(out) == 2

    def test_oracle_literals_match_kernel(self):
        from doctor_spark.queries.web import _LAYOUT_ARMS, _LAYOUT_FPS
        from doctor_spark.kernels.layout import layout_fingerprint

        for i, arm in enumerate(_LAYOUT_ARMS):
            assert layout_fingerprint(arm) == _LAYOUT_FPS[i], i
        # arms 0 and 1 are the same template with different copy —
        # that is the point of the operator
        assert _LAYOUT_FPS[0] == _LAYOUT_FPS[1]
        assert len(set(_LAYOUT_FPS[1:])) == len(_LAYOUT_FPS) - 1
