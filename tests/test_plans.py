"""Plan-quality gates: pushdown, pruning, JVM-only relational stages, and
shuffle counts — regressions here are silent 100×-scale costs."""

import pytest
from pyspark.sql import functions as F

from doctor_spark.functions.text import fingerprint, quality_score
from doctor_spark.operators.dedup import exact_duplicate_groups
from doctor_spark.plans.checks import (
    assert_jvm_only,
    count_exchanges,
    physical_plan,
    pushed_filters,
    read_schema_columns,
)

SF = "/root/testdata/sf0.01"


@pytest.fixture(scope="module")
def docs(spark):
    return spark.read.parquet(f"{SF}/documents.parquet")


def test_filter_pushdown(spark, docs):
    q = docs.where(F.col("lang") == "en").select("doc_id")
    filters = pushed_filters(q)
    assert any("lang" in f for f in filters), filters


def test_column_pruning(spark, docs):
    q = docs.groupBy("lang").count()
    cols = read_schema_columns(q)
    assert cols == {"lang"}, cols


def test_text_functions_are_jvm_only(spark, docs):
    q = docs.select(
        fingerprint(F.col("text")).alias("fp"),
        quality_score(F.col("text")).alias("q"),
    )
    assert_jvm_only(q)


def test_exact_dedup_single_shuffle(spark, docs):
    q = exact_duplicate_groups(docs)
    assert_jvm_only(q)
    # one exchange for the groupBy, nothing else
    assert count_exchanges(q) == 1


def test_lineitem_agg_pushdown_and_pruning(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    q = (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-02"))
        .groupBy("l_returnflag")
        .agg(F.sum("l_quantity"))
    )
    assert any("l_shipdate" in f for f in pushed_filters(q))
    assert read_schema_columns(q) == {"l_returnflag", "l_quantity", "l_shipdate"}
    assert_jvm_only(q)


def test_output_partition_pruning(spark, tmp_path_factory):
    """Hive-partitioned results by crawl_date: a date-filtered read must
    prune partitions (scan only the matching directories)."""
    from doctor_spark.corpus import pages_dataframe
    from doctor_spark.pipeline import run_extraction_pipeline

    out = str(tmp_path_factory.mktemp("pruned"))
    pages = pages_dataframe(spark, 120, partitions=2)
    run_extraction_pipeline(spark, pages, out, run_id="pp")
    results = spark.read.parquet(f"{out}/extracted")
    dates = sorted(r.crawl_date for r in results.select("crawl_date").distinct().collect())
    assert len(dates) > 1
    one_day = results.where(F.col("crawl_date") == dates[0])
    plan = one_day._jdf.queryExecution().executedPlan().toString()
    # partition filter must appear as a PartitionFilters entry, not a scan
    got = spark._jvm.PythonSQLUtils.explainString(
        one_day._jdf.queryExecution(), "formatted"
    )
    assert "PartitionFilters" in got and "crawl_date" in got.split("PartitionFilters", 1)[1][:200]
    assert one_day.count() > 0


def _duck_documents(rows, sql):
    """Rows of ``sql`` run by DuckDB over a ``documents(doc_id, text)``
    table holding ``rows``."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE TABLE documents (doc_id BIGINT, text VARCHAR)")
    con.executemany("INSERT INTO documents VALUES (?, ?)", rows)
    return con.sql(sql).fetchall()


def test_minhash_null_band_keys(spark):
    """Sub-shingle-length docs must get no band keys (not a shared
    md5('') bucket) and produce zero candidate pairs."""
    from doctor_spark.operators.dedup import (
        DEFAULT_SEEDS,
        _minhash_bands_udf,
        minhash_candidate_pairs,
    )

    df = spark.createDataFrame(
        [(1, "a b"), (2, "x"), (3, ""), (4, "one two three four five")],
        "doc_id long, text string",
    )
    udf = _minhash_bands_udf(DEFAULT_SEEDS, 2)
    got = {
        r.doc_id: r.bands
        for r in df.select("doc_id", udf(F.col("text")).alias("bands")).collect()
    }
    assert got[1] == got[2] == got[3] == []
    assert len(got[4]) == 2
    assert minhash_candidate_pairs(df).count() == 0


def test_minhash_udf_tokens_match_oracle_on_unicode_ws(spark):
    """The Arrow band kernel must tokenize exactly like the DuckDB oracle
    (Java \\s = ASCII): NBSP / thin-space / \\x85 are NOT separators;
    tab and padding spaces are.  Every text gets an ASCII-space twin and
    the pairs must equal the oracle's.  The twins of the tab and padded
    texts share every band; a text whose words are joined ONLY by NBSP,
    thin space or NEL is one token (no shingle, no pair) — a python
    str.split() tokenizer would pair it with its twin."""
    from doctor_spark.operators.dedup import minhash_candidate_pairs
    from doctor_spark.queries.dedup import _minhash_sql

    words = "alpha beta gamma delta epsilon".split()
    texts = [
        "alpha\u00a0beta gamma delta epsilon",      # NBSP inside a token
        "one\u2009two three four five six",          # thin space
        "line\x85break word word2 word3 word4",      # NEL
        "tab\tsplit works here fine ok",             # real separator
        " leading and trailing  spaces padded ok ",
        "\u00a0".join(words),
        "\u2009".join(words),
        "\x85".join(words),
    ]
    rows = [(i, t) for i, t in enumerate(texts)]
    rows += [(10 + i, " ".join(t.split())) for i, t in enumerate(texts)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in minhash_candidate_pairs(df).collect()}
    oracle = set(_duck_documents(rows, _minhash_sql()))
    assert got == oracle, (got, oracle)
    assert {(3, 13), (4, 14)} <= got
    assert not got & {(5, 15), (6, 16), (7, 17)}, got


def test_minhash_production_width_plan_and_fanout(spark):
    """MinHash at the production operating point (128 permutations, 16
    bands x 8 rows) must keep the demo-width plan shape: the banded table
    is materialized through ONE exchange and the self-join reuses it
    (ReusedExchange) — signatures are computed once per doc, and the band
    fan-out is exactly n_bands rows/doc, not n_seeds."""
    from doctor_spark.operators.dedup import (
        _minhash_bands_affine_udf,
        minhash_candidate_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    q = minhash_candidate_pairs(docs, affine_perms=128, rows_per_band=8)
    q.collect()  # ReusedExchange shows in the POST-execution AQE plan
    plan = q._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "ReusedExchange" in final
    # one ArrowEvalPython in the FINAL plan: the signature kernel runs
    # once, not per join side
    assert final.count("ArrowEvalPython") == 1, final
    # fan-out: 16 band keys per (long-enough) doc
    bands = _minhash_bands_affine_udf(128, 8)
    one = docs.limit(1).select(F.size(bands(F.col("text"))).alias("n"))
    assert one.collect()[0]["n"] in (0, 16)


def test_ngram_jaccard_shingle_df_cap(spark):
    """A boilerplate shingle shared by every document must not create a
    quadratic bucket: with the document-frequency cap the candidate join
    stays linear and boilerplate-only pairs drop out."""
    import time

    from doctor_spark.operators.dedup import ngram_jaccard_pairs

    n = 10_000
    rows = [(i, f"all rights reserved unique{i} token{i} extra{i}") for i in range(n)]
    # two genuine near-dups sharing rare shingles
    rows[0] = (0, "the quick brown fox jumps high")
    rows[1] = (1, "the quick brown fox jumps low")
    df = spark.createDataFrame(rows, "doc_id long, text string").repartition(8)

    t0 = time.monotonic()
    pairs = ngram_jaccard_pairs(df, threshold=0.3, max_shingle_df=50).collect()
    elapsed = time.monotonic() - t0
    got = {(r.id_a, r.id_b) for r in pairs}
    assert (0, 1) in got
    # no boilerplate-only pairs: every pair must share a rare shingle
    assert len(got) < 10
    # without the cap this join materializes ~5*10^7 pairs; with it the
    # stage completes promptly
    assert elapsed < 120, f"quadratic bucket suspected: {elapsed:.0f}s"


def test_ngram_jaccard_matches_oracle(spark):
    """The hybrid shingle kernel (Arrow shingle strings, JVM md5) must
    give the DuckDB oracle's exact pair set on hostile whitespace, case,
    short, empty, duplicate and non-ASCII documents — the differential
    that pins its tokenization and hash to an engine-independent
    reference."""
    from doctor_spark.operators.dedup import ngram_jaccard_pairs
    from doctor_spark.queries.dedup import _jaccard_sql

    rows = [
        (0, "the quick brown fox jumps over the lazy dog"),
        (1, "the quick brown fox jumps over the lazy cat"),
        (2, "  Mixed \t CASE \n tokens here trailing newline\n"),
        (3, "short doc"),          # sub-shingle-length
        (4, ""),                   # empty
        (5, "the quick brown fox jumps over the lazy dog"),  # exact dup
        (6, "unicode café naïve résumé tokens plus filler words"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(
        (r.id_a, r.id_b, r.jaccard)
        for r in ngram_jaccard_pairs(df, threshold=0.1).collect()
    )
    oracle = sorted(_duck_documents(rows, _jaccard_sql(threshold=0.1)))
    assert got == oracle == [(0, 1, 0.75), (0, 5, 1.0), (1, 5, 0.75)], (got, oracle)


def test_bucketed_join_is_shuffle_free(spark, tmp_path):
    """Two tables bucketed+sorted on the join key must sort-merge join
    with ZERO exchanges (and zero sorts) — the co-location contract for
    repeated corpus-scale joins."""
    from doctor_spark.operators.bucketing import read_bucketed, write_bucketed

    spark.sql(
        f"CREATE DATABASE IF NOT EXISTS bktest LOCATION '{tmp_path}/wh'"
    )
    docs = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "md5(cast(id AS string)) AS fp"
    )
    scores = spark.range(0, 2000).selectExpr(
        "id AS doc_id", "cast(id % 7 AS double) AS score"
    )
    write_bucketed(docs, "bktest.docs_b", ["doc_id"], 8, sort_cols=["doc_id"])
    write_bucketed(scores, "bktest.scores_b", ["doc_id"], 8, sort_cols=["doc_id"])

    a = read_bucketed(spark, "bktest.docs_b")
    b = read_bucketed(spark, "bktest.scores_b")
    joined = a.hint("merge").join(b, "doc_id")
    plan = spark._jvm.PythonSQLUtils.explainString(
        joined._jdf.queryExecution(), "formatted"
    )
    assert "SortMergeJoin" in plan
    assert "Exchange" not in plan, plan
    assert joined.count() == 2000

    # aggregation on the bucket key is exchange-free too
    agg = a.groupBy("doc_id").count()
    plan2 = spark._jvm.PythonSQLUtils.explainString(
        agg._jdf.queryExecution(), "formatted"
    )
    assert "Exchange" not in plan2, plan2
    spark.sql("DROP DATABASE bktest CASCADE")


def test_simhash_near_pairs_complete(spark):
    """Band-bucketed Hamming search must find EXACTLY the brute-force
    pairs at radius ≤ 3 (pigeonhole completeness, no false positives
    after rescore), at the demo width and at the 48-bit production
    width (12-bit bands)."""
    from doctor_spark.operators.dedup import simhash_near_pairs, with_simhash

    rows = [(i, f"the quick brown fox number {i % 9} jumps over dog {i % 7}")
            for i in range(120)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bits in (16, 48):
        got = {(r.id_a, r.id_b, r.hamming)
               for r in simhash_near_pairs(
                   df, bits=bits, max_hamming=3, n_bands=4).collect()}

        sigs = {r.doc_id: r.simhash
                for r in with_simhash(df, bits=bits).collect()}
        want = set()
        ids = sorted(sigs)
        for i, a in enumerate(ids):
            for b in ids[i + 1:]:
                h = bin(sigs[a] ^ sigs[b]).count("1")
                if h <= 3:
                    want.add((a, b, h))
        assert got == want and len(want) > 0, bits


def test_simhash_engines_bit_identical(spark):
    """The Arrow SimHash kernel (round-6 replacement for the interpreted
    higher-order expression) must produce bit-identical signatures at
    both the demo and production widths, including the empty-string and
    whitespace-edge rows."""
    from doctor_spark.operators.dedup import with_simhash

    rows = [(i, t) for i, t in enumerate([
        "the quick brown fox jumps over the lazy dog",
        "", " ", "\t leading tab", "trailing newline\n",
        "repeated repeated repeated words words",
        "UPPER Case MiXeD", "a", "two words",
    ])]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    for bits in (16, 48):
        arrow = {r.doc_id: r.simhash
                 for r in with_simhash(df, bits=bits, engine="arrow").collect()}
        expr = {r.doc_id: r.simhash
                for r in with_simhash(df, bits=bits, engine="expr").collect()}
        assert arrow == expr, (bits, arrow, expr)


def test_dedup_filtered_corpus_invariants(spark):
    """The fused chain keeps exactly one member per duplicate cluster
    (the min id), drops the rest, and passes through every unclustered
    doc untouched."""
    from doctor_spark.operators.dedup import (
        dedup_filtered_corpus,
        duplicate_components,
        minhash_candidate_pairs,
    )

    docs = spark.read.parquet(f"{SF}/documents.parquet")
    kept_ids = {
        r["doc_id"] for r in dedup_filtered_corpus(docs).select("doc_id").collect()
    }
    comp = duplicate_components(minhash_candidate_pairs(docs))
    clusters: dict = {}
    clustered = set()
    for r in comp.collect():
        clusters.setdefault(r["component_id"], []).append(r["doc_id"])
        clustered.add(r["doc_id"])
    all_ids = {r["doc_id"] for r in docs.select("doc_id").collect()}
    # every unclustered doc survives; every cluster contributes min-id only
    assert (all_ids - clustered) <= kept_ids
    for cid, members in clusters.items():
        assert min(members) == cid
        assert kept_ids & set(members) == {cid}
    assert kept_ids == (all_ids - clustered) | set(clusters)


def test_duplicate_components_chain(spark):
    """A long chain (worst-case diameter) and separate clusters must
    converge to min-id labels."""
    from doctor_spark.operators.dedup import duplicate_components

    # chain 0-1-2-...-59 (diameter 59 — pointer jumping must converge
    # well inside the 20-iteration budget), triangle, isolated pair
    edges = [(i, i + 1) for i in range(59)]
    edges += [(100, 101), (101, 102), (100, 102), (200, 201)]
    df = spark.createDataFrame(edges, "id_a long, id_b long")
    got = {r.doc_id: r.component_id
           for r in duplicate_components(df, max_iters=10).collect()}
    assert all(got[i] == 0 for i in range(60))
    assert got[100] == got[101] == got[102] == 100
    assert got[200] == got[201] == 200


def test_aqe_splits_skewed_join(spark):
    """Residual skew (one hot key) must be handled by AQE's skew-join
    splitting — the executed sort-merge join reports skew=true — so a
    pathological key degrades one stage instead of one straggler task.
    Payloads are md5-derived (incompressible): skew detection works on
    compressed shuffle bytes."""
    from pyspark.sql import functions as F

    keys = (
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes",
        "spark.sql.autoBroadcastJoinThreshold",
        "spark.sql.shuffle.partitions",
    )
    old = {k: spark.conf.get(k, None) for k in keys}
    try:
        spark.conf.set("spark.sql.adaptive.skewJoin.skewedPartitionFactor", "1")
        spark.conf.set(
            "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes",
            "128KB",
        )
        spark.conf.set(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes", "128KB"
        )
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
        spark.conf.set("spark.sql.shuffle.partitions", "8")
        pad = F.concat(*[
            F.md5(F.concat(F.col("id").cast("string"), F.lit(str(i))))
            for i in range(4)
        ])
        left = spark.range(0, 30_000).select(
            F.lit(7).alias("k"), pad.alias("pad")
        ).unionAll(
            spark.range(0, 2_000).select(
                (F.col("id") % 100).cast("int").alias("k"), pad.alias("pad")
            )
        )
        right = spark.range(0, 100).select(
            F.col("id").cast("int").alias("k"), pad.alias("rpad")
        ).unionAll(
            spark.range(0, 50).select(
                F.lit(7).cast("int").alias("k"), pad.alias("rpad")
            )
        )
        joined = left.hint("merge").join(right, "k").agg(
            F.count("*"), F.sum(F.length("pad")), F.sum(F.length("rpad"))
        )
        joined.collect()
        fin = joined._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in fin, fin[:2000]
    finally:
        for k, v in old.items():
            if v is None:
                spark.conf.unset(k)
            else:
                spark.conf.set(k, v)


def test_winnowing_guarantee(spark):
    """Winnowing's core property: two documents sharing a substring of
    length >= k + w - 1 (= 11 here) must share at least one fingerprint."""
    from doctor_spark.operators.dedup import winnow_fingerprints

    shared = "identical substring of meaningful length here"
    df = spark.createDataFrame(
        [
            (1, f"prefix one {shared} suffix alpha"),
            (2, f"другой text {shared} totally different tail"),
            (3, "nothing in common with the others at all zzz"),
        ],
        "doc_id long, text string",
    )
    fps = winnow_fingerprints(df, k=8, w=4).collect()
    by_doc = {}
    for r in fps:
        by_doc.setdefault(r.doc_id, set()).add(r.fp)
    assert by_doc[1] & by_doc[2], "shared substring must share a fingerprint"
    assert not (by_doc[1] & by_doc[3] and by_doc[2] & by_doc[3])


def test_lsh_bucket_kernel_matches_expression_spec(spark):
    """The vectorized Arrow bucket kernel must produce bit-identical
    buckets to the DuckDB oracle's bucket expression
    (``queries/similarity.py::_bucket_expr``) for every (row, table) of
    the embeddings table, plus crafted rows whose first plane dot
    cancels between two huge components: their bucket flips with the
    add order, so they pin the kernel's component-by-component fold."""
    import duckdb
    import numpy as np

    from doctor_spark.operators.similarity import _hyperplane, stacked_lsh_buckets
    from doctor_spark.queries.similarity import _bucket_expr

    plane = _hyperplane(64, 0)
    rng = np.random.default_rng(0)
    crafted = []
    for _ in range(200):
        v = [float(x) for x in rng.normal(size=64) * 1e-3]
        v[0] = 1e17
        v[1] = -(v[0] * plane[0]) / plane[1]
        fwd = rev = 0.0
        for x, c in zip(v, plane):
            fwd += x * c
        for x, c in zip(v[::-1], plane[::-1]):
            rev += x * c
        if (fwd >= 0) != (rev >= 0):
            crafted.append((10**6 + len(crafted), v))
    assert crafted

    path = f"{SF}/embeddings.parquet"
    emb = spark.read.parquet(path).select(
        "vec_id", F.col("embedding").cast("array<double>").alias("embedding")
    ).unionByName(
        spark.createDataFrame(crafted, "vec_id long, embedding array<double>")
    )
    got = {
        (r.id, r.table_no): r.bucket
        for r in stacked_lsh_buckets(emb, dim=64, n_planes=4, n_tables=3).collect()
    }
    con = duckdb.connect()
    con.execute(
        f"CREATE TABLE e AS SELECT vec_id, embedding::DOUBLE[] AS v "
        f"FROM read_parquet('{path}')"
    )
    con.executemany("INSERT INTO e VALUES (?, ?)", crafted)
    buckets = ", ".join(_bucket_expr("v", t, 4, 64) for t in range(3))
    want = {
        (r[0], t): r[1 + t]
        for r in con.execute(f"SELECT vec_id, {buckets} FROM e").fetchall()
        for t in range(3)
    }
    assert len(want) == 3 * emb.count()
    assert got == want


def test_strip_common_lines_behavior_and_plan(spark):
    """CCNet-style line dedup: hot lines dropped corpus-wide, blanks and
    rare lines kept in order; exactly TWO keyed exchanges in the plan
    (normalized line, then doc id) — no third pass for the drop counts."""
    from doctor_spark.operators.dedup import strip_common_lines

    boiler = "Subscribe NOW"
    rows = [
        (i, f"{boiler}\nunique body {i}\n\nrare tail {i % 2}")
        for i in range(40)
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = strip_common_lines(df, max_line_df=25)
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 40
    # boilerplate (df=40 > 25) dropped; body, blank, tail (df=20) kept
    assert got[7]["n_dropped"] == 1 and got[7]["n_kept"] == 3
    assert got[7]["text"] == "unique body 7\n\nrare tail 1"

    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    import re as _re

    # with AQE the simple plan prints Final + Initial; count the final only
    final_plan = plan.split("== Initial Plan ==")[0]
    n_exchange = len(_re.findall(r"Exchange hashpartitioning", final_plan))
    assert n_exchange == 2, final_plan

    # a document whose every line is hot survives with empty text
    all_hot = spark.createDataFrame(
        [(i, boiler) for i in range(30)], "doc_id long, text string"
    )
    r0 = strip_common_lines(all_hot, max_line_df=5).collect()[0]
    assert (r0["n_kept"], r0["n_dropped"], r0["text"]) == (0, 1, "")


def test_cosine_pairs_ragged_first_row_degrades_only_itself(spark):
    """A ragged/wrong-dim vector arriving FIRST in an Arrow batch must not
    poison the well-formed pairs behind it (the kernel used to infer the
    expected shape from the first non-null row per batch, making output
    depend on batch boundaries)."""
    from doctor_spark.operators.similarity import embedding_neardup_pairs

    dim = 8
    base = [1.0] + [0.0] * (dim - 1)
    rows = [
        (0, [1.0, 2.0]),          # ragged, sorts first
        (1, base),
        (2, base),                 # identical to 1 -> cos 1.0
        (3, None),                 # NULL row
    ]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>").coalesce(1)
    got = {
        (r.id_a, r.id_b): r.cos_sim
        for r in embedding_neardup_pairs(df, threshold=0.9, dim=dim).collect()
    }
    assert got.get((1, 2)) == 1.0
    assert all(0 not in k and 3 not in k for k in got)


def test_lsh_corpus_ann_no_broadcast_keyed_joins(spark):
    """Corpus-vs-corpus ANN must not broadcast anything explicitly: with
    auto-broadcast disabled the plan is keyed shuffled joins only, and the
    bucket exchange is computed once (ReusedExchange on the self-join)."""
    from doctor_spark.operators.similarity import lsh_ann_corpus_topk

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = lsh_ann_corpus_topk(emb, dim=64, k=2)
        q.collect()  # ReusedExchange shows in the POST-execution AQE plan
        plan = q._jdf.queryExecution().executedPlan().toString()
        assert "BroadcastExchange" not in plan, plan
        assert "ReusedExchange" in plan
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_pii_scrub_jvm_only_zero_shuffle(spark):
    """PII scrubbing is pure Column expressions: whole-stage-codegen'd,
    no Python nodes, no exchanges — a pure map at any corpus size."""
    from doctor_spark.functions.text import pii_counts, scrub_pii

    df = spark.createDataFrame(
        [
            (1, "mail a.b+c@x-corp.co.uk now"),
            (2, "call 555-010-1234 or 555.010.4321"),
            (3, "ssn 123-45-6789 ip 10.0.0.7 v 1.2.3.4.5"),
            (4, None),
        ],
        "doc_id long, text string",
    )
    counts = pii_counts(F.col("text"))
    q = df.select(
        "doc_id",
        scrub_pii(F.col("text")).alias("scrubbed"),
        *[c.alias(k) for k, c in counts.items()],
    )
    assert_jvm_only(q)
    assert count_exchanges(q) == 0
    rows = {r.doc_id: r for r in q.collect()}
    assert rows[1].scrubbed == "mail <EMAIL> now" and rows[1].email == 1
    assert rows[2].scrubbed == "call <PHONE> or <PHONE>" and rows[2].phone == 2
    assert rows[3].ssn == 1 and rows[3].scrubbed.startswith("ssn <SSN> ip <IP>")
    # "1.2.3.4.5" — the \b-guarded IPv4 matches its leading 4 octets;
    # documented greedy-left behavior shared by both engines
    assert rows[4].scrubbed is None and rows[4].email is None


def test_decontaminate_flags_ngram_leaks(spark):
    """A training doc containing any 8-token window of a benchmark doc is
    flagged; clean docs are not; the match is a keyed equi-join (no
    cross product in the plan)."""
    from doctor_spark.operators.dedup import decontaminate

    bench_text = "alpha bravo charlie delta echo foxtrot golf hotel india juliet"
    bench = spark.createDataFrame(
        [(100, bench_text)], "bench_id long, text string"
    )
    train = spark.createDataFrame(
        [
            (1, "clean document with entirely original words here okay"),
            (2, "prefix words then alpha bravo charlie delta echo foxtrot golf hotel tail"),
            (3, "only seven alpha bravo charlie delta echo foxtrot golf"),  # 7-gram: no
        ],
        "doc_id long, text string",
    )
    got = {r.doc_id: r for r in decontaminate(train, bench, n=8).collect()}
    assert set(got) == {2}
    assert got[2].n_hits == 1 and got[2].n_bench_docs == 1
    plan = spark._jvm.PythonSQLUtils.explainString(
        decontaminate(train, bench, n=8)._jdf.queryExecution(), "simple"
    )
    assert "CartesianProduct" not in plan and "BroadcastNestedLoop" not in plan


def test_hash_sample_deterministic_zero_shuffle(spark):
    """Deterministic sampling: JVM-only map (no exchange, no Python),
    identical membership across runs and partition layouts, disjoint
    bands carve disjoint splits, and the rate lands near nominal."""
    from doctor_spark.operators.sampling import hash_sample

    df = spark.range(0, 20_000).selectExpr("id AS url")
    s1 = hash_sample(df, key_col="url", rate=0.1, salt="s")
    assert_jvm_only(s1)
    assert count_exchanges(s1) == 0
    a = {r.url for r in s1.collect()}
    b = {r.url for r in hash_sample(df.repartition(7), "url", 0.1, "s").collect()}
    assert a == b  # layout-independent
    assert abs(len(a) / 20_000 - 0.1) < 0.01
    val = {r.url for r in hash_sample(df, "url", salt="s", band=(0.1, 0.15)).collect()}
    assert a.isdisjoint(val)
    other = {r.url for r in hash_sample(df, "url", 0.1, salt="other").collect()}
    assert a != other  # a new salt draws an independent sample


def test_clean_corpus_single_exchange(spark):
    """The fused cleaning recipe (quality + repetition + language + PII
    + exact dedup) must shuffle exactly once — the fingerprint window —
    with every filter fused into the map stage before it."""
    import __spark_entry__ as entry

    q = entry.queries()["clean_corpus"](spark, SF)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Initial Plan ==")[0]
    assert "BroadcastExchange" not in final
    # one keyed exchange (AQE may add ShuffleQueryStage wrappers; count
    # the exchange operators themselves)
    n_ex = final.count("Exchange hashpartitioning")
    assert n_ex == 1, final


def test_exact_substring_dedup_behavior_and_plan(spark):
    """Lee-et-al. ExactSubstr via duplicated k-windows: the corpus-wide
    first occurrence of a duplicated ≥k-token span survives, every other
    occurrence is erased token-exactly (union of its duplicated windows);
    short docs pass through untouched.  Plan: exactly three keyed
    exchanges (window hash, then doc id twice for the agg + join-back) —
    no cartesian product, no nested-loop join."""
    from doctor_spark.operators.dedup import exact_substring_dedup

    shared = " ".join(f"S{j}" for j in range(10))
    rows = []
    for i in range(6):
        filler = " ".join(f"f{i}x{j}" for j in range(5))
        tail = " ".join(f"t{i}x{j}" for j in range(5))
        body = shared if i in (1, 4) else f"u{i}"
        rows.append((i, f"{filler} {body} {tail}"))
    rows.append((6, "too short"))
    rows.append((7, ""))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    out = exact_substring_dedup(df, k=8)
    got = {r["doc_id"]: r for r in out.collect()}
    assert len(got) == 8
    # doc 1 is the (doc_id, pos)-first occurrence: kept in full
    assert got[1]["n_dup_windows"] == 0 and got[1]["n_dropped"] == 0
    assert shared in got[1]["text"]
    # doc 4: the 3 windows inside the shared run are marked; their union
    # is exactly the 10 shared tokens — filler and tail survive verbatim
    assert got[4]["n_dup_windows"] == 3 and got[4]["n_dropped"] == 10
    assert got[4]["text"] == (
        " ".join(f"f4x{j}" for j in range(5))
        + " "
        + " ".join(f"t4x{j}" for j in range(5))
    )
    # unrelated docs untouched; sub-k docs have no windows at all
    assert got[0]["n_dropped"] == 0 and got[0]["n_dup_windows"] == 0
    assert got[6]["n_windows"] == 0 and got[6]["text"] == "too short"
    # empty text tokenizes to [''] on every engine (split keeps empties)
    assert got[7]["n_tokens"] == 1 and got[7]["n_dropped"] == 0

    # keep_first=False: ALL copies of the duplicated span are erased
    strict = {
        r["doc_id"]: r
        for r in exact_substring_dedup(df, k=8, keep_first=False).collect()
    }
    assert strict[1]["n_dropped"] == 10 and strict[4]["n_dropped"] == 10
    assert shared not in strict[1]["text"]

    import re as _re

    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    final_plan = plan.split("== Initial Plan ==")[0]
    keys = _re.findall(r"Exchange hashpartitioning\((\w+)", final_plan)
    assert sorted(keys) == ["id", "id", "wh"], final_plan
    assert "CartesianProduct" not in final_plan
    assert "BroadcastNestedLoopJoin" not in final_plan


def test_dedup_paragraphs_behavior_and_plan(spark):
    """Dolma paragraph dedup: the (doc_id, pos)-first copy of each exact
    paragraph survives, later copies drop, whitespace-only paragraphs are
    structural and always kept; exactly TWO keyed exchanges (paragraph
    fingerprint, then doc id)."""
    from doctor_spark.operators.dedup import dedup_paragraphs

    share = "Share on Facebook"
    rows = [
        (0, f"{share}\n\nalpha body\n\n\n\ntail zero"),
        (1, f"{share}\n\nbeta body\n\ntail one"),
        (2, f"gamma body\n\n{share}\n\nalpha body"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_paragraphs(df)
    got = {r["doc_id"]: r for r in out.collect()}
    # doc 0 keeps everything incl. the empty structural paragraph
    assert got[0]["n_dropped"] == 0
    assert got[0]["text"] == f"{share}\n\nalpha body\n\n\n\ntail zero"
    # doc 1 loses only the share bar (doc 0 owns its first occurrence)
    assert got[1]["n_dropped"] == 1
    assert got[1]["text"] == "beta body\n\ntail one"
    # doc 2 loses the share bar AND the re-used alpha paragraph
    assert got[2]["n_dropped"] == 2 and got[2]["text"] == "gamma body"

    import re as _re

    plan = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils.explainString(
        out._jdf.queryExecution(), "simple"
    )
    final_plan = plan.split("== Initial Plan ==")[0]
    n_exchange = len(_re.findall(r"Exchange hashpartitioning", final_plan))
    assert n_exchange == 2, final_plan


def test_dedup_paragraphs_within_behavior_and_plan(spark):
    """Intra-doc paragraph dedup: per-document first occurrence wins,
    cross-document repeats are NOT touched (that's the corpus stage's
    job), whitespace-only paragraphs are structural; and the plan is a
    pure map — ZERO exchanges, no explode, no window."""
    from doctor_spark.operators.dedup import dedup_paragraphs_within

    bar = "Share on Facebook"
    rows = [
        # bar stamped top+bottom -> bottom copy drops; empty para kept
        (0, f"{bar}\n\nalpha body\n\n\n\n{bar}"),
        # same bar in ANOTHER doc is untouched (no cross-doc dedup here)
        (1, f"{bar}\n\nbeta body\n\nbeta body\n\ntail"),
        (2, None),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup_paragraphs_within(df)
    got = {r["doc_id"]: r for r in out.collect()}
    assert set(got) == {0, 1}  # NULL text dropped
    assert got[0]["n_paras"] == 4 and got[0]["n_dropped"] == 1
    assert got[0]["text"] == f"{bar}\n\nalpha body\n\n"
    assert got[1]["n_dropped"] == 1
    assert got[1]["text"] == f"{bar}\n\nbeta body\n\ntail"

    plan = physical_plan(out)
    assert "Exchange" not in plan, plan
    assert "Generate" not in plan, plan  # no explode
    assert "Window" not in plan, plan


def test_bloom_join_and_dense_forms_agree(spark):
    """The Bloom JOIN form (the oracle-checkable semantics) and the dense
    broadcast-bitmap form (the 100 TB deployment shape) must flag the
    identical maybe-duplicate set — including any false positives, which
    are part of the Bloom contract, not noise."""
    import numpy as np

    from doctor_spark.operators.dedup import (
        bloom_bit_positions,
        bloom_dense_bytes,
        bloom_maybe_in,
        bloom_set_bits,
    )

    m_bits, k = 256, 4  # small filter so false positives actually occur
    rows_a = [(i, f"doc body number {i}") for i in range(0, 60, 2)]
    rows_b = (
        [(100 + i, f"doc body number {i}") for i in range(0, 20)]  # half dup
        + [(200 + i, f"unseen text {i}") for i in range(40)]
    )
    a = spark.createDataFrame(rows_a, "doc_id long, text string")
    b = spark.createDataFrame(rows_b, "doc_id long, text string")

    bits = bloom_set_bits(a, m_bits=m_bits, k_hashes=k)
    join_form = {
        r["doc_id"]: r["maybe_in_a"]
        for r in bloom_maybe_in(b, bits, m_bits=m_bits, k_hashes=k).collect()
    }
    # every true duplicate MUST be flagged (no false negatives, ever)
    for i in range(0, 20, 2):
        assert join_form[100 + i] is True

    dense = np.unpackbits(
        np.frombuffer(bloom_dense_bytes(bits, m_bits), dtype=np.uint8),
        bitorder="little",
    )[:m_bits].astype(bool)
    probe = b.select(
        "doc_id",
        bloom_bit_positions(F.col("text"), m_bits, k).alias("pos"),
    ).collect()
    dense_form = {
        r["doc_id"]: bool(all(dense[p] for p in r["pos"])) for r in probe
    }
    assert dense_form == join_form


def test_stratified_sample_prefilter_equivalence(spark):
    """The map-side hash_sample prefilter (same salt) must preserve the
    exact quota sample whenever enough rows survive per stratum — it
    keeps the lowest-sorting md5 buckets, which is precisely the set the
    rank keeps.  Also: the sample is partitioning-invariant."""
    from doctor_spark.operators.sampling import stratified_sample

    rows = [
        (i, ["en", "de", "fr"][i % 3], f"src{i % 2}") for i in range(600)
    ]
    df = spark.createDataFrame(rows, "doc_id long, lang string, source string")

    def key_set(out):
        return {(r["doc_id"], r["sample_rank"]) for r in out.collect()}

    base = key_set(stratified_sample(df, ["lang", "source"], quota=7))
    assert len(base) == 6 * 7
    # rate 0.5 leaves ~50 rows per 100-row stratum >= quota 7
    pre = key_set(
        stratified_sample(df, ["lang", "source"], quota=7, prefilter_rate=0.5)
    )
    assert pre == base
    shuffled = key_set(
        stratified_sample(df.repartition(17), ["lang", "source"], quota=7)
    )
    assert shuffled == base


def test_pack_sequences_placement(spark):
    """Prefix-sum placement in the per-source token stream: offsets are
    exclusive cumsums, boundary-spanning docs report both sequences, and
    zero-token docs occupy no sequence (NULL ids, n_seqs 0)."""
    from doctor_spark.operators.packing import pack_sequences

    rows = [
        (0, "s", "a b c"),          # 3 tokens, offset 0
        (1, "s", ""),               # 0 tokens
        (2, "s", " ".join("x" * 1 for _ in range(6))),  # 6 tokens, offset 3
        (3, "s", "y y y"),          # 3 tokens, offset 9 -> spans 8-token seqs
        (4, "t", "z"),              # separate stream, offset 0
        (5, "s", None),             # NULL text -> 0 tokens, kept
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string, text string")
    got = {
        r["doc_id"]: r
        for r in pack_sequences(df, seq_len=8).collect()
    }
    assert (got[0]["start_offset"], got[0]["seq_first"], got[0]["seq_last"]) == (0, 0, 0)
    assert got[1]["n_tokens"] == 0 and got[1]["seq_first"] is None
    assert got[1]["n_seqs"] == 0
    assert (got[2]["start_offset"], got[2]["seq_first"], got[2]["seq_last"]) == (3, 0, 1)
    assert got[2]["n_seqs"] == 2  # tokens 3..8 cross the 8-boundary
    assert (got[3]["start_offset"], got[3]["seq_first"], got[3]["seq_last"]) == (9, 1, 1)
    assert (got[4]["start_offset"], got[4]["seq_first"]) == (0, 0)
    assert got[5]["n_tokens"] == 0 and got[5]["n_seqs"] == 0


def test_snapshot_diff_statuses(spark):
    """Full-outer fingerprint diff: new/gone/changed/same each exercised,
    NULL text treated as the empty document."""
    from doctor_spark.operators.incremental import snapshot_diff

    old = spark.createDataFrame(
        [(1, "alpha"), (2, "beta"), (3, "gamma"), (4, None)],
        "url long, text string",
    )
    new = spark.createDataFrame(
        [(2, "beta"), (3, "gamma CHANGED"), (4, ""), (5, "fresh")],
        "url long, text string",
    )
    got = {r["url"]: r["status"] for r in snapshot_diff(old, new, "url").collect()}
    assert got == {1: "gone", 2: "same", 3: "changed", 4: "same", 5: "new"}


def test_exact_substring_dedup_vs_bruteforce_model(spark):
    """Differential gate on a seeded random corpus with planted shared
    runs: the distributed operator must agree exactly with a brute-force
    single-node model of the ExactSubstr semantics (global window index,
    first-occurrence spared, coverage-union erase)."""
    import random

    from doctor_spark.operators.dedup import exact_substring_dedup

    k = 5
    r = random.Random(42)
    vocab = [f"w{i}" for i in range(12)]
    shared_runs = [
        [f"R{j}_{t}" for t in range(r.randint(k, k + 6))] for j in range(5)
    ]
    docs = []
    for i in range(120):
        toks = [r.choice(vocab) for _ in range(r.randint(0, 25))]
        if i % 3 == 0 and toks:
            run = r.choice(shared_runs)
            at = r.randint(0, len(toks))
            toks = toks[:at] + run + toks[at:]
        docs.append((i, " ".join(toks)))

    # single-node model
    import re as _re

    def toks_of(s):
        return _re.split(r"[ \t\n\x0b\f\r]+", s.strip(" "))

    index = {}
    for i, text in docs:
        tk = toks_of(text)
        for p in range(len(tk) - k + 1):
            index.setdefault(tuple(tk[p : p + k]), []).append((i, p))
    expected = {}
    for i, text in docs:
        tk = toks_of(text)
        covered = set()
        ndw = 0
        for p in range(len(tk) - k + 1):
            occ = index[tuple(tk[p : p + k])]
            if len(occ) > 1 and min(occ) < (i, p):
                ndw += 1
                covered.update(range(p, p + k))
        kept = [t for j, t in enumerate(tk) if j not in covered]
        expected[i] = (len(tk), ndw, len(covered), " ".join(kept))

    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r2["doc_id"]: (
            r2["n_tokens"], r2["n_dup_windows"], r2["n_dropped"], r2["text"]
        )
        for r2 in exact_substring_dedup(df, k=k).collect()
    }
    assert got == expected


def test_mixture_weights_and_resample(spark):
    """Temperature mixing on a SKEWED corpus (the sf tables are uniform,
    which exercises nothing): alpha=0.5 upsamples the rare domain above
    its natural share, expectation is preserved within rounding, the
    resample is deterministic and per-domain copy counts match the
    integer rate arithmetic exactly."""
    import math

    from doctor_spark.micro import MICRO
    from doctor_spark.operators.sampling import (
        BUCKETS,
        mixture_weights,
        temperature_resample,
    )

    rows = [(i, "common") for i in range(900)] + [
        (i, "rare") for i in range(900, 1000)
    ]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    w = mixture_weights(df, domain_col="source", alpha=0.5)
    by_d = {r["domain"]: r for r in w.collect()}
    # hand-computed: pw = floor(p^0.5 * 1e9 + 0.5)
    pw_c = math.floor(math.sqrt(0.9) * 1e9 + 0.5)
    pw_r = math.floor(math.sqrt(0.1) * 1e9 + 0.5)
    z = pw_c + pw_r
    assert by_d["rare"]["rate_micro"] == math.floor(
        1000.0 * pw_r / (float(z) * 100.0) * MICRO + 0.5
    )
    assert by_d["rare"]["rate_micro"] > MICRO  # rare upsampled
    assert by_d["common"]["rate_micro"] < MICRO  # common downsampled

    out = temperature_resample(
        df, w, domain_col="source", key_col="doc_id", salt="t"
    )
    pdf = out.groupBy("source").count().collect()
    got = {r["source"]: r["count"] for r in pdf}
    # exact per-domain counts from the integer spec: base copies for
    # every doc + one extra where bucket*1e6 < frac*65536
    from hashlib import md5

    for dom, n in (("common", 900), ("rare", 100)):
        rm = by_d[dom]["rate_micro"]
        base, frac = divmod(rm, MICRO)
        ids = range(900) if dom == "common" else range(900, 1000)
        extra = sum(
            1
            for i in ids
            if int(md5(f"t{i}".encode()).hexdigest()[:4], 16) * MICRO
            < frac * BUCKETS
        )
        assert got.get(dom, 0) == base * n + extra
    # deterministic: second run identical
    out2 = temperature_resample(
        df, w, domain_col="source", key_col="doc_id", salt="t"
    )
    assert sorted(map(tuple, out.collect())) == sorted(
        map(tuple, out2.collect())
    )
    # plan: resample is map-only over a broadcast rate table — no
    # shuffle of the corpus side beyond the weights' own aggregates
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan
    assert plan.count("BroadcastHashJoin") >= 1


def test_mixture_zero_copy_domain_drops_cleanly(spark):
    """A domain whose rate rounds below one copy for some docs must
    produce an EMPTY sequence, not the descending [1, 0] Spark's
    sequence() would infer: alpha=1 keeps natural proportions at a
    target so small every rate is fractional."""
    from doctor_spark.operators.sampling import (
        mixture_weights,
        temperature_resample,
    )

    rows = [(i, "a") for i in range(100)] + [(i + 100, "b") for i in range(100)]
    df = spark.createDataFrame(rows, "doc_id long, source string")
    w = mixture_weights(df, domain_col="source", alpha=1.0, target_rows=20)
    out = temperature_resample(df, w, domain_col="source", key_col="doc_id")
    rows_out = out.collect()
    # every emitted copy_no is 1 (rate ~0.1 < 1), count is the band hits
    assert all(r["copy_no"] == 1 for r in rows_out)
    assert 0 < len(rows_out) < 60


def test_tfidf_top_terms_hand_computed(spark):
    """Tiny corpus with hand-checkable tf/df/idf, a score tie broken by
    term order, and a min_df-pruned singleton."""
    import math

    from doctor_spark.operators.tfidf import MICRO, tfidf_top_terms

    df = spark.createDataFrame(
        [
            (1, "a", "apple banana apple"),
            (2, "a", "banana cherry"),
            (3, "b", "apple cherry unique"),
            (4, "b", "banana banana apple"),
        ],
        "doc_id long, source string, text string",
    )
    out = tfidf_top_terms(df, k=10, min_df=2).collect()
    rows = {(r["domain"], r["term"]): r for r in out}
    # 'unique' appears in 1 doc -> pruned by min_df=2
    assert ("b", "unique") not in rows
    # domain a: tf(apple)=2 df=3 idf=log10(4/3); tf(banana)=2 df=3
    idf3 = math.floor(math.log10(4 / 3) * MICRO + 0.5)
    idf4 = math.floor(math.log10(4 / 4) * MICRO + 0.5)
    assert idf4 == 0  # term in every doc scores 0
    a_apple = rows[("a", "apple")]
    assert a_apple["tf"] == 2 and a_apple["df_docs"] == 3
    assert a_apple["score"] == round(2 * idf3 / MICRO, 4)
    # domain a ranking: cherry (1·log10(2) ≈ 0.301) beats the
    # apple/banana TIE (2·log10(4/3) ≈ 0.25 each), which alphabetical
    # term order breaks
    a = [r for r in out if r["domain"] == "a"]
    assert [r["term"] for r in sorted(a, key=lambda r: r["rank"])] == [
        "cherry", "apple", "banana",
    ]
    # cherry: tf=1, df=2 -> idf=log10(2), present in a
    assert rows[("a", "cherry")]["score"] == round(
        math.floor(math.log10(2) * MICRO + 0.5) / MICRO, 4
    )
    # plan: no cartesian, vocab join NOT broadcast (both sides keyed)
    plan = (
        tfidf_top_terms(df, k=10, min_df=2)
        ._jdf.queryExecution()
        .executedPlan()
        .toString()
    )
    assert "Cartesian" not in plan


def test_ngram_novelty_hand_computed(spark):
    """Known overlap: doc B shares exactly its first 5-gram with ref doc
    A; doc C is fully novel; doc D is too short for any shingle (no
    row); a ref doc scored against itself is fully seen."""
    from doctor_spark.operators.dedup import ngram_novelty

    a = "one two three four five six"          # shingles: 2
    b = "one two three four five NEW WORDS HERE"  # 4 shingles, 1 seen
    df = spark.createDataFrame(
        [(1, a), (2, b), (3, "totally different words in this doc"),
         (4, "too short")],
        "doc_id long, text string",
    )
    ref = df.where("doc_id = 1")
    out = {r["doc_id"]: r for r in ngram_novelty(df, ref, n=5).collect()}
    assert 4 not in out  # < 5 tokens -> no shingles -> no row
    assert out[1]["n_sh"] == 2 and out[1]["n_seen"] == 2
    assert out[1]["novel_frac"] == 0.0
    assert out[2]["n_sh"] == 4 and out[2]["n_seen"] == 1
    assert out[2]["novel_frac"] == 0.75
    assert out[3]["n_seen"] == 0 and out[3]["novel_frac"] == 1.0
    # plan: keyed join by default (no broadcast of the ref side), no
    # cartesian; broadcast_ref flips it for benchmark-sized refs
    plan = (
        ngram_novelty(df, ref, n=5)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "Cartesian" not in plan
    plan_b = (
        ngram_novelty(df, ref, n=5, broadcast_ref=True)
        ._jdf.queryExecution().executedPlan().toString()
    )
    assert "BroadcastHashJoin" in plan_b


def test_grouped_deciles_hand_computed(spark):
    """Type-1 decile spec on known data: n=10 ascending values (decile q
    = value at rank q), a tied group, and a singleton group (every
    decile = the one value)."""
    from doctor_spark.operators.stats import grouped_deciles

    rows = (
        [(f"a{i}", "a", (i + 1) * 10) for i in range(10)]
        + [(f"b{i}", "b", 7) for i in range(4)]
        + [("c0", "c", 99)]
    )
    df = spark.createDataFrame(rows, "id string, grp string, v long")
    out = grouped_deciles(df, "v", "grp").collect()
    got = {(r["grp"], r["q"]): r["value"] for r in out}
    # group a: rank ceil(q*10/10) = q -> value q*10
    for q in range(1, 10):
        assert got[("a", q)] == q * 10
    # group b: all ties -> every decile is 7
    assert all(got[("b", q)] == 7 for q in range(1, 10))
    # group c: singleton -> rank ceil(q/10) = 1 always
    assert all(got[("c", q)] == 99 for q in range(1, 10))
    assert len(out) == 27


def test_heavy_hitters_probe_is_broadcast_and_jvm_only(spark, docs):
    """The CMS probe side must stay map-side: four BroadcastHashJoins
    against the literal cell tables, no shuffle before the final
    candidate groupBy, and zero Python in the plan (md5/conv/least are
    codegen)."""
    from doctor_spark.operators.sketches import heavy_hitters

    q = heavy_hitters(docs, threshold=200, width=256)
    plan = physical_plan(q, "simple")
    assert plan.count("BroadcastHashJoin") == 4, plan
    assert "SortMergeJoin" not in plan and "CartesianProduct" not in plan
    assert_jvm_only(q)
    # candidate groupBy = 1 exchange (+1 inside each tiny broadcast build)
    assert plan.count("Exchange hashpartitioning") == 1, plan


def test_semdedup_reuses_cluster_exchange_no_broadcast_of_corpus(spark):
    """Both sides of the within-cluster self-join must come from ONE
    assignment pass (ReusedExchange), and the corpus side must never be
    broadcast (a broadcast corpus OOMs at crawl scale) — pinned with the
    broadcast threshold disabled, the 100-TB statistics rehearsal."""
    from doctor_spark.operators.similarity import semdedup

    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    old = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        q = semdedup(emb, n_clusters=16, threshold=0.35, dim=64)
        # the Arrow assignment kernel runs ONCE, inside the eager
        # localCheckpoint — the downstream plan must contain ZERO
        # re-evaluations (Catalyst duplicated it 6× before the
        # checkpoint pattern was applied)
        static = q._jdf.queryExecution().executedPlan().toString()
        assert static.count("ArrowEvalPython [assign") == 0, static
        assert "BroadcastExchange" not in static, static
        assert "CartesianProduct" not in static
        # exchange reuse for the self-join twin is an AQE runtime
        # decision — assert on the final adaptive plan
        q.collect()
        final = q._jdf.queryExecution().executedPlan().toString()
        assert "isFinalPlan=true" in final
        assert "ReusedExchange" in final, final
        assert "BroadcastExchange" not in final, final
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", old)


def test_boilerplate_corpus_map_only(spark):
    """The jusText corpus pass must stay a single map stage: zero
    exchanges (context resolution is per-document by construction), and
    the scan must prune to the two columns the operator reads."""
    import __spark_entry__ as entry

    q = entry.queries()["boilerplate_corpus"](spark, SF)
    assert count_exchanges(q) == 0, physical_plan(q)
    assert read_schema_columns(q) == {"doc_id", "text"}


def test_dsir_score_map_only_and_takeordered(spark):
    """DSIR scoring must be quality_classifier's plan with the learned
    table embedded as a literal: zero exchanges, 2-column pruned scan —
    and the resample must select via TakeOrderedAndProject (never a
    global sort exchange); the fit table is passed as a literal here so
    the test doesn't pay the training action."""
    from pyspark.sql import functions as F

    from doctor_spark.operators.dsir import dsir_resample, dsir_scores

    docs = spark.read.parquet(f"{SF}/documents.parquet").where(
        F.col("text").isNotNull()
        & (F.length(F.trim(F.col("text"))) > 0)
    )
    scored = dsir_scores(docs, [0] * 1024)
    assert count_exchanges(scored) == 0, physical_plan(scored)
    assert read_schema_columns(scored) == {"doc_id", "text"}
    plan = physical_plan(dsir_resample(scored, k=100))
    assert "TakeOrderedAndProject" in plan, plan
    assert count_exchanges(dsir_resample(scored, k=100)) == 0, plan


def test_cdx_index_single_range_exchange(spark):
    """The CDX build is codegen + ONE range exchange (the artifact's
    global (surt, ts) order); any extra shuffle is a regression."""
    import __spark_entry__ as entry

    q = entry.queries()["cdx_index"](spark, SF)
    assert count_exchanges(q) == 1, physical_plan(q, "simple")
    plan = physical_plan(q)
    assert "rangepartitioning" in plan.lower(), plan
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


@pytest.mark.parametrize("name", ["pdf_thumbnails", "structured_data"])
def test_ordered_result_sorts_one_partition(spark, name):
    """An ordered result (a converter over the spread scan, a kernel
    query over the plain scan) is sorted in ONE partition above an
    ``Exchange SinglePartition``: no range exchange, whose bounds-sampling
    job would run the Python stage a second time, and no checkpoint
    (``Scan ExistingRDD``), which would cut lineage."""
    import __spark_entry__ as entry

    q = entry.queries()[name](spark, SF)
    q.collect()
    plan = q._jdf.queryExecution().executedPlan().toString()
    final = plan.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    assert "rangepartitioning" not in plan.lower(), plan
    assert "Scan ExistingRDD" not in plan, plan
    lines = final.splitlines()
    sort = next(i for i, ln in enumerate(lines) if " Sort [" in ln)
    single = next(i for i, ln in enumerate(lines) if "Exchange SinglePartition" in ln)
    assert sort < single and "], false, 0" in lines[sort], final


def test_wat_export_map_only(spark):
    """WAT serialization: one Arrow-batched map stage (title+links
    kernels), record framing in codegen, ZERO shuffles."""
    import __spark_entry__ as entry

    q = entry.queries()["wat_export"](spark, SF)
    assert count_exchanges(q) == 0, physical_plan(q)
    assert "BatchEvalPython" not in physical_plan(q)


def test_soft404_gate_map_only_jvm(spark):
    import __spark_entry__ as entry

    q = entry.queries()["soft404_gate"](spark, SF)
    assert_jvm_only(q)
    assert count_exchanges(q) == 0, physical_plan(q)
