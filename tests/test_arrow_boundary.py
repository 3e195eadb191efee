"""The Arrow row boundary (``doctor_spark.arrow``): the two adapters'
contract, the micro-unit quantizer's batch UDF (``doctor_spark.micro``),
the allowlist of the Python sites that stay on pandas (and the one
checkpoint site, ``session.pin``), and the no-duplicate-Python-UDF
invariant of the queries that used to clone or could share one."""

import ast
import math
import re
import sys
from collections import Counter
from pathlib import Path

import numpy as np
import pytest
from pyspark.sql import functions as F

from doctor_spark.arrow import row_map, row_udf
from doctor_spark.micro import micro, micro_udf
from doctor_spark.plans.checks import physical_plan

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

SF_DIR = "/root/testdata/sf0.01"


# --------------------------------------------------------------------------
# row_udf
# --------------------------------------------------------------------------


def test_row_udf_null_in_and_out(spark):
    df = spark.createDataFrame([("ab",), (None,), ("",)], "s string")
    seen = row_udf(lambda s: s is None, "boolean")
    echo = row_udf(lambda s: None if s is None else s.upper(), "string")
    got = df.select(seen("s").alias("n"), echo("s").alias("u")).collect()
    assert [(r.n, r.u) for r in got] == [(False, "AB"), (True, None), (False, "")]


def test_row_udf_struct_from_tuple_and_array_of_structs(spark):
    df = spark.createDataFrame([("a b c",), (None,)], "s string")
    stats = row_udf(
        lambda s: None if s is None else (len(s), s.split()),
        "struct<n: int, words: array<string>>",
    )
    spans = row_udf(
        lambda s: [(i, w) for i, w in enumerate((s or "").split())],
        "array<struct<pos: int, w: string>>",
    )
    got = df.select(stats("s").alias("st"), spans("s").alias("sp")).collect()
    assert got[0].st.n == 5 and got[0].st.words == ["a", "b", "c"]
    assert [(x.pos, x.w) for x in got[0].sp] == [(0, "a"), (1, "b"), (2, "c")]
    assert got[1].st is None and got[1].sp == []
    # the explode family selects the struct's fields with "_x.*"
    rows = df.select(F.explode(spans("s")).alias("_x")).select("_x.*")
    assert rows.columns == ["pos", "w"] and rows.count() == 3


def test_row_udf_binary_and_struct_input(spark):
    df = spark.createDataFrame(
        [(b"\x00\xffab", (1, "x")), (None, None)], "b binary, st struct<k: int, v: string>"
    )
    rev = row_udf(lambda b: None if b is None else b[::-1], "binary")
    key = row_udf(lambda st: None if st is None else st["k"] * 10, "long")
    got = df.select(rev("b").alias("r"), key("st").alias("k")).collect()
    assert bytes(got[0].r) == b"ba\xff\x00" and got[0].k == 10
    assert got[1].r is None and got[1].k is None


def test_row_udf_nan_stays_nan(spark):
    df = spark.createDataFrame([(1,), (2,)], "i int")
    u = row_udf(lambda i: float("nan") if i == 1 else None, "double")
    got = [r.x for r in df.select(u("i").alias("x")).orderBy("i").collect()]
    assert math.isnan(got[0]) and got[1] is None


def test_row_udf_plans_as_arrow_eval_python_250_and_composes(spark):
    df = spark.createDataFrame([("a",)], "s string")
    u = row_udf(lambda s: len(s), "int")
    nd = u.asNondeterministic()
    assert u.deterministic and not nd.deterministic
    out = df.select(nd("s").alias("n"))
    assert out.collect()[0].n == 1
    plan = physical_plan(out, "simple")
    assert re.search(r"ArrowEvalPython \[.*\], \[.*\], 250", plan), plan


# --------------------------------------------------------------------------
# row_map
# --------------------------------------------------------------------------


def test_row_map_emits_zero_one_and_n_rows(spark):
    df = spark.createDataFrame([(0,), (1,), (3,), (None,)], "k int")

    def fan(k):
        return [(k, j, f"{k}.{j}") for j in range(k or 0)] or (
            [(None, -1, None)] if k is None else []
        )

    out = row_map(df, fan, "k int, j int, tag string")
    got = sorted(out.collect(), key=lambda r: (r.j, r.k or 0))
    assert [(r.k, r.j, r.tag) for r in got] == [
        (None, -1, None), (1, 0, "1.0"), (3, 0, "3.0"), (3, 1, "3.1"), (3, 2, "3.2"),
    ]
    assert "MapInArrow" in physical_plan(out, "simple")


def test_row_map_empty_input_and_empty_batches(spark):
    schema = "k long, doubled long"
    none_in = row_map(spark.range(0), lambda k: [(k, 2 * k)], schema)
    assert none_in.collect() == []
    # every batch emits no row: each still yields a (zero-row) batch
    none_out = row_map(spark.range(0, 50, numPartitions=3), lambda k: [], schema)
    assert none_out.collect() == [] and none_out.schema.simpleString() == (
        "struct<k:bigint,doubled:bigint>"
    )


def test_row_map_binary_and_struct_columns(spark):
    df = spark.range(3).select(
        F.col("id"), F.expr("cast(repeat('x', cast(id as int)) as binary)").alias("b")
    )
    out = row_map(
        df,
        lambda i, b: [(i, b + b"!", (len(b), None))],
        "id long, b binary, m struct<n: int, note: string>",
    )
    got = {r.id: r for r in out.collect()}
    assert bytes(got[2].b) == b"xx!" and got[2].m.n == 2 and got[2].m.note is None


# --------------------------------------------------------------------------
# micro_udf
# --------------------------------------------------------------------------


def test_micro_udf_quantizes_like_micro(spark):
    df = spark.createDataFrame(
        [(1, 0.5), (7, 2.0), (10**6, 1e-9), (3, -0.25)], "n long, x double"
    )
    out = df.select(
        "n",
        "x",
        micro_udf(np.log10, F.col("n")).alias("lg"),
        micro_udf(
            lambda n, x: n * x, F.col("n"), F.col("x"), scale=10**9
        ).alias("nx"),
    )
    for r in out.collect():
        assert r.lg == micro(float(np.log10(float(r.n))))
        assert r.nx == math.floor(r.n * r.x * 1e9 + 0.5)
    assert micro(2.5e-7) == 0 and micro(5e-7) == 1 and micro(-5e-7) == 0
    plan = physical_plan(out, "simple")
    assert re.search(r"ArrowEvalPython \[.*\], \[.*\], 250", plan), plan


# --------------------------------------------------------------------------
# the pandas allowlist
# --------------------------------------------------------------------------

# Every pandas_udf / mapInPandas / applyInPandas call left in the package
# and the entry module, keyed by (file, enclosing scope), with the reason
# it stays on pandas.  Row-wise kernels go through doctor_spark.arrow.
PANDAS_SITES = {
    ("doctor_spark/operators/extract.py", "extract_operator"):
        "extraction hot path; perfbench finds its node by the name "
        "MapInPandas, so moving it needs its own A/B",
    ("doctor_spark/corpus.py", "pages_dataframe"):
        "emits timestamp columns",
    ("doctor_spark/sources/warc.py", "read_warc_pages"):
        "emits timestamp columns",
    ("doctor_spark/sources/warc.py", "wet_partition_files"):
        "concatenates records per partition",
    ("doctor_spark/sources/fetch.py", "fetch_binary_column"):
        "runs a thread pool over each batch",
    ("doctor_spark/operators/bpe.py", "bpe_train"):
        "per-batch pair aggregation (_pairs_after_merges_kernel)",
    ("doctor_spark/operators/bpe.py", "bpe_token_counts"):
        "per-batch token aggregation (tok_kernel)",
    ("doctor_spark/operators/dsir.py", "dsir_llr_table"):
        "per-batch bucket aggregation (_fit_kernel)",
    ("doctor_spark/operators/similarity.py", "_lsh_buckets_udf.buckets"):
        "numpy matmul over the whole batch",
    ("doctor_spark/operators/similarity.py", "_cosine_pairs_udf.cos"):
        "numpy fold over the whole batch (returns NaN for bad rows)",
    ("doctor_spark/operators/similarity.py", "_ivf_assign_udf.assign"):
        "numpy matmul over the whole batch",
}


def _call_sites(apis: set[str]) -> list[tuple[str, str]]:
    """(file, enclosing scope) of every call to a function or method named
    in ``apis`` in the package and the entry module."""
    files = sorted((ROOT / "doctor_spark").rglob("*.py")) + [ROOT / "__spark_entry__.py"]
    sites = []
    for path in files:
        rel = path.relative_to(ROOT).as_posix()

        def walk(node, scope):
            for ch in ast.iter_child_nodes(node):
                if isinstance(ch, (ast.FunctionDef, ast.AsyncFunctionDef, ast.ClassDef)):
                    walk(ch, scope + [ch.name])
                    continue
                if isinstance(ch, ast.Call):
                    fn = ch.func
                    name = fn.attr if isinstance(fn, ast.Attribute) else getattr(fn, "id", None)
                    if name in apis:
                        sites.append((rel, ".".join(scope) or "<module>"))
                walk(ch, scope)

        walk(ast.parse(path.read_text()), [])
    return sites


def test_pandas_sites_are_exactly_the_allowlist():
    sites = _call_sites({"pandas_udf", "mapInPandas", "applyInPandas"})
    assert len(sites) == len(set(sites)) == 11, Counter(sites)
    assert set(sites) == set(PANDAS_SITES), (
        f"new pandas sites (move row-wise kernels to doctor_spark.arrow): "
        f"{sorted(set(sites) - set(PANDAS_SITES))}; "
        f"gone from the code: {sorted(set(PANDAS_SITES) - set(sites))}"
    )
    assert all(reason.strip() for reason in PANDAS_SITES.values())


def test_checkpoint_is_called_only_in_pin():
    # doctor_spark.session.pin picks a local or a reliable checkpoint;
    # every other site materializes through it (tests/test_pin.py)
    assert sorted(_call_sites({"localCheckpoint", "checkpoint"})) == [
        ("doctor_spark/session.py", "pin"),
        ("doctor_spark/session.py", "pin"),
    ]


# --------------------------------------------------------------------------
# no Python UDF evaluated by two nodes
# --------------------------------------------------------------------------


def _udf_calls(udf_list: str) -> list[str]:
    """Split an EvalPython node's ``[udf(a#1, f(b#2))#3, ...]`` list at its
    top-level commas."""
    calls, depth, cur = [], 0, ""
    for ch in udf_list:
        depth += ch in "(["
        depth -= ch in ")]"
        if ch == "," and depth == 0:
            calls.append(cur.strip())
            cur = ""
        else:
            cur += ch
    return calls + ([cur.strip()] if cur.strip() else [])


def _final_plan(df) -> str:
    """The executed AQE plan's final section (its string also carries the
    initial plan, which would list every UDF a second time); a plan with
    no exchange is not adaptive and is returned whole."""
    df.collect()
    plan = df._jdf.queryExecution().executedPlan().toString()
    if "AdaptiveSparkPlan" not in plan:
        return plan
    assert "isFinalPlan=true" in plan, plan
    return plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]


# Queries whose final plan evaluates one UDF call in more than one node by
# design; every other query evaluates each call once.
PLANNED_EVALS = {
    # one per side of the groupBy+join form (operators/metadata.py)
    "canonical_clusters": 2,
    # one per n-gram order: the scorer's ``ord == m`` joins prune the
    # model's union to one branch each, so the nodes see disjoint rows
    "ccnet_perplexity": 3,
}


@pytest.mark.parametrize(
    "name",
    [
        "canonical_clusters",
        "dedup_simhash_near",
        "dedup_simhash_near_w48",
        "embedding_neardup",
        "ivf_ann_topk",
        # the queries that plan a doctor_spark.micro UDF
        "bm25_topk",
        "prf_expansion",
        "best_passages",
        "tfidf_top_terms",
        "zipf_fit",
        "nb_confusion",
        "mix_weights",
        "mix_resample",
        "dsir_select",
        "ccnet_perplexity",
        # a chunk table feeding two aggregates; a nondeterministic struct
        # UDF read field by field
        "cdc_dedup",
        "page_metadata",
        "wat_export",
    ],
)
def test_no_python_udf_evaluated_twice(spark, name):
    if not Path(SF_DIR).is_dir():
        pytest.skip(f"driver tables not present ({SF_DIR})")
    import __spark_entry__ as entry

    plan = _final_plan(entry.queries()[name](spark, SF_DIR))
    # keyed by the call's result id: the two sides of a self-join rename
    # the arguments of one call but keep its result id
    calls = Counter(
        re.search(r"#\d+L?$", call).group(0)
        for m in re.finditer(r"\w*EvalPython\w* \[(.*?)\], \[", plan)
        for call in _udf_calls(m.group(1))
    )
    assert calls, plan
    evals = PLANNED_EVALS.get(name, 1)
    assert all(n <= evals for n in calls.values()), (calls, plan)
