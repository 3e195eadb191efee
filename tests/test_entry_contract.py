"""Replicates the driver's correctness gate: every ``queries()`` entry run
via Spark at sf0.01 must match its ``oracle_sql()`` DuckDB result —
row count, column names, and order-insensitive values; and where the
oracle ends in a top-level ``ORDER BY``, the rows come out in its order."""

import math
import re
import sys
from pathlib import Path

import duckdb
import pandas as pd
import pytest
from pyspark.sql import functions as F

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

import __spark_entry__ as entry  # noqa: E402
from doctor_spark.queries.extraction import _REF_ASSETS  # noqa: E402

SF_DIR = "/root/testdata/sf0.01"
TABLES = (
    "region nation customer supplier part orders lineitem events "
    "documents embeddings"
).split()


def _oracle_df(sql: str) -> pd.DataFrame:
    con = duckdb.connect()
    for t in TABLES:
        con.sql(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    return con.sql(sql).df()


def _normalize(df: pd.DataFrame) -> pd.DataFrame:
    df = df[sorted(df.columns)].copy()
    for c in df.columns:
        if df[c].dtype == object:
            df[c] = df[c].astype(str)
    return df.sort_values(list(df.columns), ignore_index=True)


def _values_equal(a, b) -> bool:
    if isinstance(a, float) or isinstance(b, float):
        fa, fb = float(a), float(b)
        if math.isnan(fa) and math.isnan(fb):
            return True
        return fa == fb
    return a == b


def _order_keys(sql: str) -> list[str] | None:
    """Output columns of the SQL's top-level ``ORDER BY``, or None when it
    has none: the last ``ORDER BY`` outside every parenthesis, string
    literal and ``--`` comment, without qualifiers, ASC/DESC/NULLS and
    LIMIT."""
    masked = re.sub(
        r"'(?:[^']|'')*'|\"[^\"]*\"|--[^\n]*", lambda m: " " * len(m[0]), sql
    )
    top = [
        m for m in re.finditer(r"\border\s+by\b", masked, re.I)
        if masked.count("(", 0, m.start()) == masked.count(")", 0, m.start())
    ]
    if not top:
        return None
    clause = re.split(r"\b(?:limit|offset)\b|;", masked[top[-1].end():], flags=re.I)[0]
    return [
        re.split(r"\s+(?:asc|desc|nulls)\b", k.strip(), flags=re.I)[0].split(".")[-1]
        for k in clause.split(",")
    ]


def _key_rows(df: pd.DataFrame, keys: list[str]) -> list[tuple]:
    return [
        tuple(None if pd.isna(v) else v for v in row)
        for row in df[keys].itertuples(index=False, name=None)
    ]


def test_order_keys_found_for_every_ordered_oracle():
    ordered = {
        name: keys
        for name, sql in entry.oracle_sql().items()
        if (keys := _order_keys(sql)) is not None
    }
    assert len(ordered) == 43, sorted(ordered)
    assert ordered["order_revenue_topk"] == ["revenue", "o_orderkey"]
    assert ordered["pagination_chains"] == ["url"]
    assert _order_keys("SELECT x FROM (SELECT x FROM t ORDER BY x) s") is None
    assert _order_keys("SELECT 'ORDER BY y' AS x FROM t -- ORDER BY z") is None


@pytest.mark.parametrize("name", sorted(entry.oracle_sql().keys()))
def test_query_matches_oracle(spark, name):
    if name == "reference_fixtures" and not Path(_REF_ASSETS).is_dir():
        pytest.skip(f"reference assets not present ({_REF_ASSETS})")
    q = entry.queries()[name]
    sql = entry.oracle_sql()[name]
    spark_raw, oracle_raw = q(spark, SF_DIR).toPandas(), _oracle_df(sql)

    # ordered oracles: the key columns in the oracle's row order (rows
    # with equal keys may come in any order, so only keys are compared)
    keys = _order_keys(sql)
    if keys is not None:
        got, want = _key_rows(spark_raw, keys), _key_rows(oracle_raw, keys)
        first = next(
            (i for i, (a, b) in enumerate(zip(got, want)) if a != b),
            min(len(got), len(want)),
        )
        assert got == want, (
            f"{name}: rows not in ORDER BY {keys} order from row {first}: "
            f"{got[first:first + 3]} vs {want[first:first + 3]}"
        )

    spark_pdf, oracle_pdf = _normalize(spark_raw), _normalize(oracle_raw)

    assert list(spark_pdf.columns) == list(oracle_pdf.columns), (
        f"{name}: columns {list(spark_pdf.columns)} vs {list(oracle_pdf.columns)}"
    )
    assert len(spark_pdf) == len(oracle_pdf), (
        f"{name}: rows {len(spark_pdf)} vs {len(oracle_pdf)}"
    )
    for col in spark_pdf.columns:
        sv, ov = spark_pdf[col].tolist(), oracle_pdf[col].tolist()
        bad = [
            (i, a, b)
            for i, (a, b) in enumerate(zip(sv, ov))
            if not _values_equal(a, b)
        ]
        assert not bad, f"{name}.{col}: {len(bad)} diffs, first 3: {bad[:3]}"


def test_every_query_has_oracle_or_documented_exception():
    qs, os_ = set(entry.queries()), set(entry.oracle_sql())
    assert os_ <= qs
    # every query now carries an exact oracle (the LSH buckets and IVF
    # assignment are deterministic and mirrored in SQL since round 2)
    assert qs == os_


def test_entry_smoke(spark):
    df = entry.entry(spark)
    rows = df.count()
    assert rows == 200
    assert "content" in df.columns and "url" in df.columns


def test_lsh_ann_recall(spark):
    """LSH ANN must find a decent fraction of the true top-3 neighbors."""
    brute = entry.queries()["ann_cosine_topk"](spark, SF_DIR).select(
        "query_id", "neighbor_id"
    ).collect()
    approx = entry.queries()["lsh_ann_topk"](spark, SF_DIR).select(
        "query_id", "neighbor_id"
    ).collect()
    truth = {(r.query_id, r.neighbor_id) for r in brute}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.3, f"recall {recall}"


def test_ivf_ann_recall(spark):
    """IVF with nprobe=6 of 16 lists must recover most true neighbors."""
    brute = entry.queries()["ann_cosine_topk"](spark, SF_DIR).select(
        "query_id", "neighbor_id"
    ).collect()
    approx = entry.queries()["ivf_ann_topk"](spark, SF_DIR).select(
        "query_id", "neighbor_id"
    ).collect()
    truth = {(r.query_id, r.neighbor_id) for r in brute}
    got = {(r.query_id, r.neighbor_id) for r in approx}
    recall = len(truth & got) / len(truth)
    assert recall >= 0.4, f"recall {recall}"


def test_lowercase_divergence_excluded_by_construction(spark):
    """Cross-engine ``lower`` safety for the md5-based oracles.

    Empirically (asserted here, not assumed): Python's str.lower and
    Spark's lower agree on every printable BMP codepoint — so the Arrow
    kernels mirror the JVM exactly.  DuckDB's lower applies simple
    codepoint mapping and diverges on a small set (U+0130 'İ' plus a few
    Coptic/Latin-Extended letters) and on U+03A3 'Σ' (the context-
    sensitive Final_Sigma rule).  Rather than emulating Unicode special
    casing in SQL, the contract EXCLUDES those codepoints from oracle
    inputs: this test computes the divergent set from the live engines
    and asserts the driver tables and the synthetic corpus contain none
    of them."""
    import duckdb

    con = duckdb.connect()
    chars = [chr(c) for c in range(0x20, 0x10000) if chr(c).isprintable()]
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (SELECT unnest(?) AS ch)", [chars]
    )
    duck = con.execute("SELECT ch, lower(ch) FROM t").fetchall()
    divergent = {ch for ch, dl in duck if ch.lower() != dl}
    divergent.add("Σ")  # Final_Sigma: context-sensitive, per-char safe
    assert "İ" in divergent  # the İ caveat this test retires

    # python lower == spark lower on everything (kernels mirror the JVM)
    sdf = spark.createDataFrame(
        [(i, c) for i, c in enumerate(chars)], "id long, ch string"
    )
    spark_low = {
        r["id"]: r["l"] for r in sdf.selectExpr("id", "lower(ch) AS l").collect()
    }
    py_spark_diff = [
        chars[i] for i in range(len(chars)) if chars[i].lower() != spark_low[i]
    ]
    assert py_spark_diff == [], [hex(ord(c)) for c in py_spark_diff[:5]]

    # the oracle tables must not contain any divergent codepoint
    pattern = "[" + "".join(divergent) + "]"
    docs = spark.read.parquet(f"{SF_DIR}/documents.parquet")
    assert docs.where(F.col("text").rlike(pattern)).count() == 0

    from doctor_spark.corpus import generate_pages

    assert not any(
        ch in p["text"] for p in generate_pages(0, 300) for ch in divergent
    )



def test_trim_divergence_excluded_by_construction(spark):
    """Cross-engine ``trim`` safety, the sibling of the ``lower`` case.

    DuckDB's ``trim`` strips the Unicode space separators (U+00A0,
    U+2000-U+200A, U+3000, ...) while Spark's ``trim`` and the kernels'
    ``strip(" ")`` strip only U+0020, so an oracle that trims a text or a
    line (``_TOKS``, ``_FP``, the Gopher and lang mirrors) would diverge
    on one that starts or ends with such a character.  The contract
    EXCLUDES them from oracle inputs: this test computes the divergent
    set from the live engines and asserts that no text and no line of
    the sf0.01 tables or the synthetic corpus starts or ends with one."""
    import duckdb

    chars = [chr(c) for c in range(1, 0x10000) if not 0xD800 <= c <= 0xDFFF]
    con = duckdb.connect()
    con.execute(
        "CREATE TABLE t AS SELECT * FROM (SELECT unnest(?) AS ch)", [chars]
    )
    duck = {
        ch for (ch,) in con.execute(
            "SELECT ch FROM t WHERE trim(ch || 'a' || ch) = 'a'"
        ).fetchall()
    }
    sdf = spark.createDataFrame([(c,) for c in sorted(duck)], "ch string")
    divergent = {
        r["ch"] for r in sdf.where(F.expr("trim(ch || 'a' || ch) <> 'a'")).collect()
    }
    assert divergent == duck - {" "}
    assert {"\u00a0", "\u2009", "\u3000"} <= divergent

    def edges(text):
        for s in [text, *text.split("\n")]:
            if s:
                yield s[0]
                yield s[-1]

    texts = [
        r["text"] for r in spark.read.parquet(f"{SF_DIR}/documents.parquet")
        .select("text").collect() if r["text"] is not None
    ]
    assert not any(ch in divergent for t in texts for ch in edges(t))

    from doctor_spark.corpus import generate_pages

    assert not any(
        ch in divergent for p in generate_pages(0, 300) for ch in edges(p["text"])
    )

ADVERSARIAL_QUERIES = [
    "repetition_gopher", "gopher_quality", "token_stats", "fingerprint",
    "line_dedup", "pii_scrub", "text_quality", "dedup_simhash",
    # pair-generating dedup families: the nasty corpus plants exact dups,
    # near-dups and whitespace-variant dups so the joins produce rows
    "dedup_exact", "dedup_stats", "dedup_minhash_pairs",
    "dedup_ngram_jaccard", "dedup_simhash_near", "dedup_components",
    "winnow_fingerprints", "repetition_stats",
    # round-4 additions: production-width MinHash, the fused dedup chain,
    # decontamination and hash sampling (all need only doc_id + text)
    "dedup_minhash_pairs_w128", "dedup_filtered_corpus",
    "decontaminate", "corpus_sample", "clean_corpus",
    # round-5 addition: production-entropy simhash (needs only doc_id+text)
    "dedup_simhash_near_w48",
    # round-5 additions: ExactSubstr span dedup, Dolma paragraph dedup,
    # hashed-linear quality scoring (all need only doc_id + text)
    "dedup_exact_substring", "paragraph_dedup", "quality_classifier",
    "bloom_dedup", "snapshot_diff",
    # round-5 third wave: memorization audit (doc_id + text only)
    "ngram_novelty",
    # round-5 fourth wave: CMS prefilter (must equal the naive HAVING on
    # any corpus regardless of collisions), BPE training + final token
    # histogram (whitespace classes, unicode, tie-bait all hit the merge
    # loop), integer PageRank over the affine doc_id graph
    "heavy_hitters", "bpe_merges", "bpe_token_counts", "link_pagerank",
    # round-5 fifth wave: jusText main-content gate (doc_id + text only;
    # the nasty corpus stresses its normalization, ws classes, and the
    # short/neargood band arithmetic on degenerate docs)
    "boilerplate_corpus",
    # round-5 fifth wave: char-entropy gibberish gate (NULL text -> NULL
    # row; astral code points iterate identically on both engines)
    "char_entropy",
    # round-5 sixth wave: DSIR importance resampling (doc_id + text only;
    # hostile ws classes hit the gram/bucket path, planted dups get
    # identical weights and the md5 Gumbel key breaks the tie)
    "dsir_select",
    # round-5 seventh wave: intra-doc paragraph dedup (doc_id + text
    # only; hostile ws classes hit the trim/empty-paragraph rules, the
    # planted dups make every doc carry intra-page repeats)
    "para_dedup_intra",
    # round-5 tenth wave: WET serialization — the nasty corpus is the
    # REAL stressor here (md5-of-record must agree byte-for-byte across
    # engines on emoji/astral text, every whitespace class, and the
    # UTF-8-octet Content-Length on multibyte payloads); plus the
    # pointer-doubling redirect resolver on the irregular partial-block
    # doc count this corpus produces
    "wet_export", "redirect_resolve",
    # round-5 twelfth wave: span lineage (offset bookkeeping must agree
    # on entity-escaped hostile text across engines), the C4 line filter
    # (trim/terminal-punct/word-count rules on every whitespace class)
    # and the C4 span dedup (CRLF lines, blank lines, planted shared
    # blocks — the hash/keeper/removal chain on degenerate pages)
    "content_spans", "c4_clean", "c4_span_dedup",
    # round-5 thirteenth wave: HLL registers/estimator (doc_id only —
    # the hostile corpus varies doc COUNT and id gaps, exercising the
    # absent-register and small-denominator paths of the estimator)
    "hll_host_distinct",
    # round-5 thirteenth wave: JSON-LD extraction (doc_id + text only;
    # the synthesis arms fan out over whatever doc_ids the hostile
    # corpus carries, exercising every arm boundary)
    "structured_data",
    # round-5 thirteenth wave: NFC cleanup — the hostile corpus is the
    # REAL stressor (astral pairs, \x0b and every control class, BOM,
    # combining runs hit Python-unicodedata-vs-utf8proc head-on)
    "unicode_clean",
    # round-5 thirteenth wave: hreflang pair inventory (doc_id + text
    # only; degenerate corpora exercise the count-guard arms)
    "hreflang_pairs",
    # round-5 thirteenth wave: host-template lines (doc_id + text only;
    # hostile ws classes hit the line normalizer, planted dups make
    # whole hosts share organic lines)
    "host_template_lines",
    # round-5 thirteenth wave: canonical-URL dedup rung (doc_id + text
    # only; truncated clusters at corpus edges exercise keeper fallback)
    "canonical_clusters",
    # round-5 thirteenth wave: pagination stitching (doc_id + text only;
    # NULL-text drops truncate chains mid-walk — the resolver must head
    # at the unseen page exactly like the CTE)
    "pagination_chains",
    # round-5 fourteenth wave: Gale–Church beads / URL templates /
    # heading outlines (doc_id + text only; degenerate corpora vary the
    # arm populations and the hostile texts ride the carried columns)
    "bitext_align", "url_templates", "heading_outline",
    # round-5 fifteenth wave: STRAND URL pairing (doc_id only),
    # host-quality rollup (the Gopher CTE on hostile text + integer
    # fraction boundaries on whatever host populations emerge), and
    # readability (vowel/terminal-run regex classes on every whitespace
    # and unicode arm — the FULL-replay oracle meets the nasty corpus)
    "bitext_url_pairs", "host_quality", "readability",
    # round-5 sixteenth wave: PMI collocations (the full-replay oracle
    # meets hostile whitespace classes and planted-dup token streams)
    # and boundary-aware chunking (doc_id-only synthesis arms)
    "collocations", "chunk_spans",
    # round-5 waves 23-29 (this session): BM25 (tokenizer + micro-idf
    # arithmetic meets hostile whitespace/tie corpora), rank-frequency
    # statistics (tie-heavy degenerate corpora stress the (freq, term)
    # rank order and the OLS double mirror), stem conflation /
    # host split / CDC dedup (doc_id-only constant arms on degenerate
    # populations), HITS + TrustRank (affine graphs over whatever
    # doc_id population the nasty corpus provides)
    "bm25_topk", "zipf_fit", "freq_of_freqs", "stem_conflation",
    "host_split", "cdc_dedup", "hits_scores", "trustrank",
    # round-5 wave 34: directed Broder containment (the jaccard shingle
    # machinery meets planted inclusion/whitespace variants) and
    # TextRank keywords (ASCII-gated co-occurrence graph + integer
    # PageRank on whatever vocabulary the hostile corpus yields)
    "containment_pairs", "textrank_keywords",
    # round-5 wave 35: paragraph-level lang segmentation (hostile ws
    # classes hit the split/trim rules, unicode paragraphs hit the
    # script router per paragraph) and PRF expansion (the BM25 replay
    # composes with candidate-term arithmetic on degenerate corpora)
    "para_lang", "prf_expansion",
    # round-5 wave 36: per-doc TextRank summaries (doc_id-only clean
    # synthesis arms; degenerate doc populations vary the graph mix)
    # and VByte postings accounting (hostile ws classes hit the token
    # stream, irregular doc_id gaps hit the byte-boundary CASEs)
    "textrank_summary", "postings_compression",
    # round-5 wave 37: multi-source BFS crawl depth (affine graph +
    # seed rule over whatever doc_id population the corpus provides)
    "crawl_depth",
    # round-5 wave 38: MinHash-estimated containment (the w128
    # signature machinery + int64 estimator arithmetic on the planted
    # dup/near-dup/whitespace-variant families)
    "containment_est",
    # (lang_id and doc_metrics_by_lang need the full table schema — they
    # run on the sf tables in the main matrix above)
]


@pytest.mark.parametrize("qname", ADVERSARIAL_QUERIES)
def test_text_oracles_on_adversarial_corpus(spark, tmp_path, qname):
    r"""Every text-based query vs its DuckDB oracle on adversarial strings
    (the sf tables are too tame to stress tokenizer/rounding edges):
    every whitespace class — including \x0b, which RE2's \s EXCLUDES and
    Java's includes, the divergence this test originally caught — plus
    single-token docs, coverage ties, unicode, NULLs, and highly
    repetitive text."""
    import random

    nasty = [
        None, "", " ", "\t\t", "a", "a a a a a a a a a a",
        "x y x y x y x y x y x y",
        "one two three four five six seven eight nine ten",
        ("spam ham " * 30).strip(),
        "tab\tand\nnewline\x0bvt\x0cff\rcr mix",
        "ünïcode wörds ünïcode wörds ünïcode wörds",
        # astral-plane code points: Java's empty-pattern split must not
        # cut surrogate pairs where RE2/Python iterate code points (the
        # BPE char-split divergence class); 👍🏽 = base + skin modifier,
        # two code points on BOTH engines
        "emoji 😀😀x😀 pair 👍🏽👍🏽 mix a😀b",
        " leading trailing ", "a  b   c    d",
        # PII edge forms (advisor r3 item 9): SSN-vs-phone shape overlap
        # at string boundaries, IPv4 octets > 255, quoted-local emails
        "123-45-6789",                       # bare SSN, whole string
        "555-123-4567",                      # phone shape (3-3-4)
        "123-45-6789x555-123-4567",          # both, no word boundaries
        "call 555.123.4567 or 555-123-4567.", # dot form + trailing punct
        "999.999.999.999 vs 10.0.0.1",       # octets >255 + valid ip
        "1.2.3.4.5 and 256.1.1.1",           # 5-part dotted run
        '"quoted local"@example.com x@y.co a.b+c_d%e@sub.domain.org',
        "not-an-email@ @nope.com a@b",       # near-miss email shapes
        "ssn 078-05-1120, ip 127.0.0.1, mail j.doe@court.gov end",
        # line-dedup edge forms: CRLF endings, \x0b INSIDE lines, blank
        # lines, shared boilerplate lines across docs
        "header line\r\nbody one\r\nfooter line\r\n",
        "header line\nbody two\nfooter line\n",
        "line with\x0bvertical tab\nfooter line",
        "\n\nonly\n\n\nblanks\n\n",
        "footer line",                        # the shared line, alone
    ]
    r = random.Random(7)
    words = ["w%d" % i for i in range(6)] + ["the", "dup"]
    for _ in range(60):
        nasty.append(" ".join(r.choice(words) for _ in range(r.randint(0, 40))))
    # planted duplicate structure for the pair queries
    base = "the quick brown fox jumps over the lazy dog again and again"
    nasty += [
        base,
        base,                              # exact duplicate
        base + " tail",                    # near-duplicate
        base.replace(" ", "\t"),           # whitespace-variant (tab)
        base.upper(),                      # case-variant
        "  " + base + "  ",                # padding-variant
    ]
    rows = [(i, t) for i, t in enumerate(nasty)]

    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
        f"{sf}/documents.parquet"
    )
    # NaN vs None is a pandas representation detail, not a value diff:
    # canonicalize BEFORE _normalize stringifies object columns
    def canon(df):
        return _normalize(
            df.astype(object).map(lambda x: None if pd.isna(x) else x)
        )

    spark_pdf = canon(entry.queries()[qname](spark, sf).toPandas())

    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle_pdf = canon(con.execute(entry.oracle_sql()[qname]).fetch_df())
    assert list(spark_pdf.columns) == list(oracle_pdf.columns)
    assert len(spark_pdf) == len(oracle_pdf)
    import pandas.testing as pdt

    pdt.assert_frame_equal(spark_pdf, oracle_pdf, check_dtype=False)

@pytest.mark.parametrize("qname", ["ccnet_perplexity", "token_deciles",
                                   "nb_confusion",
                                   "boilerplate_corpus_lang"])
def test_lang_oracles_on_adversarial_corpus(spark, tmp_path, qname):
    r"""Lang-column queries vs their DuckDB oracles on hostile strings —
    separate from the main matrix because they need a ``lang`` column.
    Stresses: the \x0b whitespace divergence, empty text ([''] token),
    single-token docs, exact duplicates (identical scores, id tiebreak
    in ntile), high-repetition text (trigram hits), docs whose every
    gram is OOV for the hash-band reference half, and tiny per-lang
    groups (decile ranks collapse onto few rows)."""
    import random

    import duckdb
    import pandas.testing as pdt

    import __spark_entry__ as entry

    nasty = [
        "", " ", "a", "the the the the the the",
        "tab\tand\nnewline\x0bvt\x0cff\rcr mix",
        "x y x y x y x y x y x y",
        ("spam ham " * 30).strip(),
        "ünïcode wörds ünïcode wörds",
        " leading trailing ", "a  b   c    d",
        "zz yy xx ww vv uu",
    ]
    base = "the quick brown fox jumps over the lazy dog"
    nasty += [base, base, base + " tail", base.replace(" ", "\t")]
    r = random.Random(11)
    words = ["w%d" % i for i in range(5)] + ["the", "dup"]
    for _ in range(40):
        nasty.append(
            " ".join(r.choice(words) for _ in range(r.randint(0, 25)))
        )
    rows = [
        (i, t, ("en", "fr", "de")[i % 3]) for i, t in enumerate(nasty)
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, text string, lang string"
    ).write.parquet(f"{sf}/documents.parquet")

    spark_pdf = _normalize(
        entry.queries()[qname](spark, sf).toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle_pdf = _normalize(
        con.execute(entry.oracle_sql()[qname]).fetch_df()
    )
    assert len(spark_pdf) == len(oracle_pdf)
    if qname == "ccnet_perplexity":  # per-doc output: one row per doc
        assert len(spark_pdf) == len(nasty)
    elif qname == "token_deciles":  # 9 deciles per language
        assert len(spark_pdf) == 9 * 3
    elif qname == "boilerplate_corpus_lang":  # one row per doc
        assert len(spark_pdf) == len(nasty)
    else:  # nb_confusion: at most |langs|^2 cells, never empty
        assert 1 <= len(spark_pdf) <= 9
    pdt.assert_frame_equal(spark_pdf, oracle_pdf, check_dtype=False)

@pytest.mark.parametrize("qname", ["mix_weights", "mix_resample"])
def test_mix_oracles_on_skewed_corpus(spark, tmp_path, qname):
    """The sf documents table is perfectly uniform (every source 5%),
    so its rates are all exactly 1.0 and the pow/normalizer arithmetic
    is never stressed — this corpus has a 2000:3:1 domain skew plus a
    singleton domain, the shapes where cross-engine pow/rounding drift
    would actually show."""
    import duckdb
    import pandas.testing as pdt

    import __spark_entry__ as entry

    rows = (
        [(i, "crawl") for i in range(2000)]
        + [(2000 + i, "wiki") for i in range(3)]
        + [(2003, "books")]
    )
    sf = str(tmp_path)
    spark.createDataFrame(rows, "doc_id long, source string").write.parquet(
        f"{sf}/documents.parquet"
    )
    spark_pdf = _normalize(entry.queries()[qname](spark, sf).toPandas())
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle_pdf = _normalize(con.execute(entry.oracle_sql()[qname]).fetch_df())
    assert len(spark_pdf) == len(oracle_pdf) > 0
    pdt.assert_frame_equal(spark_pdf, oracle_pdf, check_dtype=False)

def test_tfidf_oracle_on_adversarial_corpus(spark, tmp_path):
    r"""tfidf_top_terms vs its DuckDB oracle on hostile strings:
    \x0b/\t/\r whitespace classes, case folding, empty docs (the ''
    token), score ties, and a skewed domain layout."""
    import duckdb
    import pandas.testing as pdt

    import __spark_entry__ as entry

    rows = [
        (1, "big", "The QUICK\tbrown\x0bfox the the"),
        (2, "big", "quick brown dogs bark"),
        (3, "big", ""),
        (4, "big", "fox fox fox unique_term"),
        (5, "small", "the quick"),
        (6, "small", "brown\r\nfox lines"),
    ]
    sf = str(tmp_path)
    spark.createDataFrame(
        rows, "doc_id long, source string, text string"
    ).write.parquet(f"{sf}/documents.parquet")
    spark_pdf = _normalize(
        entry.queries()["tfidf_top_terms"](spark, sf).toPandas()
    )
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{sf}/documents.parquet/*.parquet')"
    )
    oracle_pdf = _normalize(
        con.execute(entry.oracle_sql()["tfidf_top_terms"]).fetch_df()
    )
    assert len(spark_pdf) == len(oracle_pdf) > 0
    pdt.assert_frame_equal(spark_pdf, oracle_pdf, check_dtype=False)
