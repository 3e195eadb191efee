"""Dedup queries, every rung: exact hashes, MinHash and SimHash bands,
connected components, n-gram Jaccard and containment, exact substrings,
winnowing, line/paragraph dedup, Bloom filters, decontamination,
content-defined chunks and the verify and leakage audits."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import (
    _FP, _JAVA_WS_CLASS, _TOKS, _docs, _docs_spread, _present, query,
)
from doctor_spark.queries.quality import _gopher_sql, _repetition_gopher_sql
from doctor_spark.queries.text import _lang_guess_expr


@query(oracle=f"""
SELECT {_FP} AS text_hash, count(*)::BIGINT AS n_dups,
       min(doc_id)::BIGINT AS keep_id
FROM documents GROUP BY 1 HAVING count(*) > 1
""")
def q_dedup_exact(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.operators.dedup import exact_duplicate_groups

    g = exact_duplicate_groups(_docs(spark, sf_dir))
    return g.select(
        "text_hash",
        F.col("n_dups").cast("bigint").alias("n_dups"),
        F.col("keep_id").cast("bigint").alias("keep_id"),
    )


@query(oracle=f"""
SELECT count(*)::BIGINT AS n_total, count(DISTINCT {_FP})::BIGINT AS n_unique
FROM documents
""")
def q_dedup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.operators.dedup import dedup_stats

    s = dedup_stats(_docs(spark, sf_dir))
    return s.select(
        F.col("n_total").cast("bigint").alias("n_total"),
        F.col("n_unique").cast("bigint").alias("n_unique"),
    )


def _minhash_sql(n: int = 3, n_seeds: int = 4, rows_per_band: int = 2) -> str:
    """3-gram shingles, mirroring doctor_spark.operators.dedup.shingles();
    parameterized over the signature width so the same generator covers
    the 4-seed demo AND the production 128-permutation/16-band operating
    point (Lee et al. dedup / Dolma shape)."""
    shingle = (
        f"list_distinct(list_transform(range(1, len({_TOKS}) - {n - 2}), "
        f"i -> array_to_string(({_TOKS})[i:i+{n - 1}], ' ')))"
    )
    mh_cols = ", ".join(
        f"list_aggregate(list_transform(sh, s -> md5('s{i}' || s)), 'min')"
        f" AS mh{i}"
        for i in range(n_seeds)
    )
    n_bands = n_seeds // rows_per_band
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_no, md5({key}) AS band_key FROM sigs".format(
            b=b,
            key=" || '|' || ".join(
                f"mh{i}"
                for i in range(b * rows_per_band, (b + 1) * rows_per_band)
            ),
        )
        for b in range(n_bands)
    )
    return f"""
WITH sh_t AS (
  SELECT doc_id, {shingle} AS sh FROM documents WHERE len({_TOKS}) >= {n}
), sigs AS (
  SELECT doc_id, {mh_cols}
  FROM sh_t
), banded AS (
  {band_selects}
)
SELECT DISTINCT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
FROM banded a JOIN banded b
  ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@query(oracle=_minhash_sql())
def q_dedup_minhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.operators.dedup import minhash_candidate_pairs

    p = minhash_candidate_pairs(_docs_spread(spark, sf_dir))
    return p.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
    )


# the Lee-et-al./Dolma-style production operating point: 128 permutations,
# 16 bands x 8 rows — the width at which the band fan-out (16 rows/doc)
# and the per-doc kernel cost actually bite at scale.  Signature scheme at
# this width is the universal-hash family (one md5 per shingle + affine
# permutations mod 2^32); md5-per-(seed,shingle) costs 128x more digests.
MINHASH_PROD_PERMS = 128


MINHASH_PROD_ROWS_PER_BAND = 8


def _minhash_affine_sql(n_perms: int, rows_per_band: int, n: int = 3) -> str:
    """Mirror of the universal-hash production MinHash: 32-bit md5-prefix
    per shingle (hex→BIGINT), (a_i*h + b_i) mod 2^32 affine permutations
    (exact int64 — a < 2^30 keeps products < 2^62), per-band md5 over the
    decimal-string join of the row mins."""
    from doctor_spark.operators.dedup import _affine_params

    a, b = _affine_params(n_perms)
    shingle = (
        f"list_distinct(list_transform(range(1, len({_TOKS}) - {n - 2}), "
        f"i -> array_to_string(({_TOKS})[i:i+{n - 1}], ' ')))"
    )
    mh_cols = ", ".join(
        "list_aggregate(list_transform(h32, "
        f"h -> (h * {a[i]} + {b[i]}) % 4294967296), 'min') AS mh{i}"
        for i in range(n_perms)
    )
    n_bands = n_perms // rows_per_band
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_no, md5({key}) AS band_key FROM sigs".format(
            b=bi,
            key=" || '|' || ".join(
                f"mh{i}::VARCHAR"
                for i in range(bi * rows_per_band, (bi + 1) * rows_per_band)
            ),
        )
        for bi in range(n_bands)
    )
    return f"""
WITH sh_t AS (
  SELECT doc_id, {shingle} AS sh FROM documents WHERE len({_TOKS}) >= {n}
), h_t AS (
  SELECT doc_id,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h32
  FROM sh_t
), sigs AS (
  SELECT doc_id, {mh_cols} FROM h_t
), banded AS (
  {band_selects}
)
SELECT DISTINCT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b
FROM banded a JOIN banded b
  ON a.band_no = b.band_no AND a.band_key = b.band_key AND a.doc_id < b.doc_id
"""


@query(oracle=_minhash_affine_sql(
    MINHASH_PROD_PERMS, MINHASH_PROD_ROWS_PER_BAND
))
def q_dedup_minhash_pairs_w128(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash LSH at production width (128 perms / 16 bands), same ONE-
    exchange plan as the demo width — proves the operator at the point a
    real 100 TB dedup would run it, not just the 4-seed demo."""
    from doctor_spark.operators.dedup import minhash_candidate_pairs

    p = minhash_candidate_pairs(
        _docs_spread(spark, sf_dir),
        affine_perms=MINHASH_PROD_PERMS,
        rows_per_band=MINHASH_PROD_ROWS_PER_BAND,
    )
    return p.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
    )


def _simhash_sql(bits: int = 16) -> str:
    vote = (
        "list_sum(list_transform(th, h -> CASE WHEN (h >> {b}) & 1 = 1 "
        "THEN 1 ELSE -1 END))"
    )
    sig_terms = " + ".join(
        f"(CASE WHEN {vote.format(b=b)} >= 0 THEN {2 ** b} ELSE 0 END)"
        for b in range(bits)
    )
    return f"""
WITH t AS (
  SELECT doc_id,
         list_transform({_TOKS},
           tk -> ('0x' || substr(md5(tk), 1, 15))::BIGINT) AS th
  FROM documents
)
SELECT doc_id::BIGINT AS doc_id,
       -- NULL text → NULL signature, like Spark's aggregate over a NULL
       -- token array (the CASE terms would otherwise fold NULL votes to 0)
       (CASE WHEN th IS NULL THEN NULL ELSE ({sig_terms}) END)::BIGINT
         AS simhash
FROM t
"""


@query(oracle=_simhash_sql())
def q_dedup_simhash(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.operators.dedup import with_simhash

    return with_simhash(_docs_spread(spark, sf_dir)).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("simhash").cast("bigint").alias("simhash"),
    )


def _simhash_near_sql(
    bits: int = 16, max_hamming: int = 3, n_bands: int = 4
) -> str:
    bw = bits // n_bands
    mask = (1 << bw) - 1
    return f"""
WITH sigs AS ({_simhash_sql(bits)}),
stacked AS (
  SELECT doc_id, simhash, b.band_no,
         (simhash >> (b.band_no * {bw})) & {mask} AS band_val
  FROM sigs, (SELECT unnest(range({n_bands})) AS band_no) b
), cand AS (
  SELECT DISTINCT a.doc_id AS id_a, c.doc_id AS id_b
  FROM stacked a JOIN stacked c
    ON a.band_no = c.band_no AND a.band_val = c.band_val
   AND a.doc_id < c.doc_id
)
SELECT id_a::BIGINT AS id_a, id_b::BIGINT AS id_b, hamming FROM (
  SELECT cand.id_a, cand.id_b,
         bit_count(xor(sa.simhash, sb.simhash))::BIGINT AS hamming
  FROM cand JOIN sigs sa ON sa.doc_id = cand.id_a
            JOIN sigs sb ON sb.doc_id = cand.id_b
) WHERE hamming <= {max_hamming}
"""


@query(oracle=_simhash_near_sql())
def q_dedup_simhash_near(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash Hamming-radius near-dup pairs (band-bucketed, complete for
    hamming ≤ 3 with 4 bands)."""
    from doctor_spark.operators.dedup import simhash_near_pairs

    p = simhash_near_pairs(_docs(spark, sf_dir), max_hamming=3, n_bands=4)
    return p.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )


@query(oracle=_simhash_near_sql(bits=48))
def q_dedup_simhash_near_w48(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-pairs at PRODUCTION width: 48-bit signature, 4 bands
    of 12 bits (4096 band values).  The 16-bit demo above has 16 values
    per band — at 50k docs every bucket holds ~3k docs and the candidate
    join goes quadratic (~3×10^8 candidates; found by the round-5 sf1
    sweep, where the demo query DNF'd).  Band-key entropy, not the band
    COUNT, is what keeps LSH linear — same lesson as MinHash w128."""
    from doctor_spark.operators.dedup import simhash_near_pairs

    p = simhash_near_pairs(
        _docs_spread(spark, sf_dir), bits=48, max_hamming=3, n_bands=4
    )
    return p.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("hamming").cast("bigint").alias("hamming"),
    )


@query(oracle=f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.doc_id = e.dst
)
SELECT doc_id::BIGINT AS doc_id, min(label)::BIGINT AS component_id
FROM walk GROUP BY doc_id
""")
def q_dedup_components(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Duplicate clusters: connected components over the MinHash candidate
    pairs, every member labeled with the cluster's smallest id."""
    from doctor_spark.operators.dedup import (
        duplicate_components,
        minhash_candidate_pairs,
    )

    comp = duplicate_components(minhash_candidate_pairs(_docs(spark, sf_dir)))
    return comp.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("component_id").cast("bigint").alias("component_id"),
    )


@query(oracle=f"""
WITH g AS ({_gopher_sql()}), r AS ({_repetition_gopher_sql()}),
l AS (SELECT doc_id, {_lang_guess_expr()} AS lg FROM documents),
f AS (SELECT doc_id, {_FP} AS fp, text FROM documents),
kept AS (
  SELECT f.doc_id, f.fp, f.text
  FROM f JOIN g USING (doc_id) JOIN r USING (doc_id) JOIN l USING (doc_id)
  WHERE g.passes AND r.passes AND l.lg = 'en'
)
SELECT doc_id::BIGINT AS doc_id,
       md5(regexp_replace(regexp_replace(regexp_replace(regexp_replace(text,
           '\\b\\d{{3}}-\\d{{2}}-\\d{{4}}\\b', '<SSN>', 'g'),
           '\\b\\d{{3}}[-.]\\d{{3}}[-.]\\d{{4}}\\b', '<PHONE>', 'g'),
           '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{{2,}}', '<EMAIL>', 'g'),
           '\\b\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\.\\d{{1,3}}\\b', '<IP>', 'g'))
         AS clean_md5
FROM kept
QUALIFY doc_id = min(doc_id) OVER (PARTITION BY fp)
""")
def q_clean_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The full C4/Dolma-style cleaning recipe as ONE query: Gopher
    quality gate AND repetition gate AND language filter (en) in a single
    map stage (three Arrow kernels, zero shuffles), exact-dup removal
    (keep min doc_id per fingerprint — one keyed window exchange), and
    PII scrubbing on the survivors.  Output: kept doc_id + md5 of the
    scrubbed text.  This is the shape a training-data pipeline actually
    runs — filters fused per-row before any shuffle, dedup on the
    already-filtered (smaller) set, scrub last so dropped docs never pay
    for it."""
    from pyspark.sql import Window

    from doctor_spark.functions.text import (
        fingerprint,
        gopher_metrics_udf,
        lang_guess_udf,
        repetition_metrics_udf,
        scrub_pii,
    )

    g = gopher_metrics_udf()
    rep = repetition_metrics_udf()
    lg = lang_guess_udf()
    d = _docs(spark, sf_dir)
    scored = d.select(
        "doc_id", "text",
        g(F.col("text")).alias("g"),
        rep(F.col("text")).alias("r"),
        lg(F.col("text")).alias("lg"),
        fingerprint(F.col("text")).alias("fp"),
    )
    kept = scored.where(
        F.col("g.passes") & F.col("r.passes") & (F.col("lg") == "en")
    )
    w = Window.partitionBy("fp")
    return (
        kept.withColumn("keep_id", F.min("doc_id").over(w))
        .where(F.col("doc_id") == F.col("keep_id"))
        .select(
            F.col("doc_id").cast("bigint").alias("doc_id"),
            F.md5(scrub_pii(F.col("text")).cast("binary")).alias("clean_md5"),
        )
    )


@query(oracle=f"""
WITH RECURSIVE pairs AS ({_minhash_sql()}),
edges AS (
  SELECT id_a AS src, id_b AS dst FROM pairs
  UNION
  SELECT id_b, id_a FROM pairs
),
walk(doc_id, label) AS (
  SELECT src, src FROM edges
  UNION
  SELECT e.src, w.label FROM edges e JOIN walk w ON w.doc_id = e.dst
),
comp AS (
  SELECT doc_id, min(label) AS component_id FROM walk GROUP BY doc_id
)
SELECT doc_id::BIGINT AS doc_id FROM documents
WHERE doc_id NOT IN (SELECT doc_id FROM comp WHERE doc_id != component_id)
""")
def q_dedup_filtered_corpus(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fused fuzzy-dedup end-to-end: pairs → components → keeper → kept
    corpus, one job (verdict r3 item 5)."""
    from doctor_spark.operators.dedup import dedup_filtered_corpus

    kept = dedup_filtered_corpus(_docs_spread(spark, sf_dir))
    return kept.select(F.col("doc_id").cast("bigint").alias("doc_id"))


def _jaccard_sql(n: int = 3, threshold: float = 0.3, max_df: int = 100) -> str:
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk) - {n - 2}),
           i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS shl
  FROM toks WHERE len(tk) >= {n}
), ex0 AS (
  -- 60-bit md5-prefix shingle keys, identical to the engine's Arrow
  -- kernel (int(md5(s)[:15 hex], 16)) — 8-byte join keys both sides
  SELECT doc_id, len(shl) AS n_sh,
         ('0x' || substr(md5(unnest(shl)), 1, 15))::BIGINT AS shingle
  FROM sh
), ex AS (
  -- document-frequency cap mirrors max_shingle_df (boilerplate shingles
  -- are dropped before the self-join)
  SELECT doc_id, n_sh, shingle FROM (
    SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM ex0
  ) WHERE df <= {max_df}
)
SELECT id_a, id_b, jaccard FROM (
  SELECT a.doc_id::BIGINT AS id_a, b.doc_id::BIGINT AS id_b,
         round(count(*)::DOUBLE /
               (any_value(a.n_sh) + any_value(b.n_sh) - count(*)), 4) AS jaccard
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
) WHERE jaccard >= {threshold}
"""


@query(oracle=_jaccard_sql())
def q_dedup_ngram_jaccard(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.operators.dedup import ngram_jaccard_pairs

    p = ngram_jaccard_pairs(
        _docs_spread(spark, sf_dir), threshold=0.3, max_shingle_df=100
    )
    return p.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("jaccard").cast("double").alias("jaccard"),
    )


@query(oracle="""
WITH toks AS (
  SELECT doc_id, regexp_split_to_array(trim(text), '[ \\t\\n\\x0b\\f\\r]+') AS tk
  FROM documents WHERE text IS NOT NULL
), wins AS (
  SELECT doc_id, pos, md5(array_to_string(tk[pos+1 : pos+8], ' ')) AS wh
  FROM toks, unnest(range(0, greatest(len(tk)-8+1, 0))) AS u(pos)
), marked AS (
  SELECT doc_id, pos FROM (
    SELECT doc_id, pos, count(*) OVER (PARTITION BY wh) AS cnt,
           row_number() OVER (PARTITION BY wh ORDER BY doc_id, pos) AS rn
    FROM wins) WHERE cnt > 1 AND rn > 1
), tok AS (
  SELECT doc_id, e.i - 1 AS i, e.t AS t
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(tk) + 1),
                      j -> {'i': j, 't': tk[j]})) AS e
        FROM toks)
), cov AS (
  SELECT tok.doc_id, tok.i, tok.t,
         EXISTS(SELECT 1 FROM marked m WHERE m.doc_id = tok.doc_id
                AND m.pos <= tok.i AND tok.i < m.pos + 8) AS covered
  FROM tok
), dstats AS (
  SELECT doc_id, count(*) AS n_dup_windows FROM marked GROUP BY doc_id
)
SELECT c.doc_id::BIGINT AS doc_id,
       count(*)::BIGINT AS n_tokens,
       greatest(count(*) - 8 + 1, 0)::BIGINT AS n_windows,
       coalesce(any_value(d.n_dup_windows), 0)::BIGINT AS n_dup_windows,
       sum(CASE WHEN covered THEN 1 ELSE 0 END)::BIGINT AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN NOT covered THEN t END,
                               ' ' ORDER BY i), '')) AS text_hash
FROM cov c LEFT JOIN dstats d USING (doc_id)
GROUP BY c.doc_id
""")
def q_dedup_exact_substring(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021) via the duplicated-k-window
    identity: every token inside a corpus-duplicated span of ≥8 tokens is
    erased, sparing the lexicographically-first occurrence of each
    window.  One exchange on the window hash (count + row_number share
    it), one keyed agg of the marked positions, one join back — the
    distributed-exact replacement for the paper's suffix array."""
    from doctor_spark.operators.dedup import exact_substring_dedup

    out = exact_substring_dedup(_docs(spark, sf_dir), k=8)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "n_tokens",
        "n_windows",
        "n_dup_windows",
        "n_dropped",
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
    )


@query(oracle="""
WITH norm AS (
  SELECT doc_id, regexp_replace(trim(lower(text)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS t
  FROM documents
), g AS (
  SELECT doc_id,
         list_transform(range(1, length(t) - 8 + 2),
                        i -> substr(md5(substr(t, i, 8)), 1, 15)) AS h
  FROM norm WHERE length(t) >= 8
), wnd AS (
  SELECT doc_id, h,
         unnest(range(1, greatest(1, len(h) - 4 + 1) + 1)) AS p
  FROM g
), sl AS (
  SELECT doc_id, p, h[p : p + 3] AS s FROM wnd
)
SELECT DISTINCT doc_id::BIGINT AS doc_id,
       (p - 1 + (len(s) - list_position(list_reverse(s), list_min(s))))::BIGINT
         AS pos,
       list_min(s) AS fp
FROM sl
""")
def q_winnow_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing local fingerprints (k=8 char-grams, window w=4,
    rightmost-min selection) — matching is a keyed join on fp."""
    from doctor_spark.operators.dedup import winnow_fingerprints

    p = winnow_fingerprints(_docs(spark, sf_dir), k=8, w=4)
    return p.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("pos").cast("bigint").alias("pos"),
        F.col("fp"),
    )


@query(oracle="""
WITH aug AS (
  SELECT doc_id,
         'Subscribe to our newsletter!' || chr(10) ||
         regexp_replace(text, '\\. ', '.' || chr(10), 'g') || chr(10) ||
         CASE WHEN doc_id % 2 = 0 THEN 'All Rights Reserved.'
              ELSE 'Privacy Policy | Terms of Use' END AS text
  FROM documents WHERE text IS NOT NULL
), d AS (
  SELECT doc_id, str_split(text, chr(10)) AS ls FROM aug
), lines AS (
  SELECT doc_id, e.pos AS pos, e.ln AS ln,
         regexp_replace(trim(lower(e.ln)), '[ \\t\\n\\x0b\\f\\r]+', ' ', 'g') AS norm
  FROM (
    SELECT doc_id,
           unnest(list_transform(range(1, len(ls) + 1),
                  i -> {'pos': i, 'ln': ls[i]})) AS e
    FROM d
  )
), counts AS (
  SELECT norm, count(*) AS line_df FROM lines GROUP BY norm
), marked AS (
  SELECT l.doc_id, l.pos, l.ln,
         (l.norm = '' OR c.line_df <= 30) AS keep
  FROM lines l JOIN counts c USING (norm)
)
SELECT doc_id::BIGINT AS doc_id,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       (count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))::BIGINT AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN keep THEN ln END, chr(10)
                               ORDER BY pos), '')) AS text_hash
FROM marked GROUP BY doc_id
""")
def q_line_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CCNet-style cross-document line dedup: strip lines occurring more
    than ``max_line_df`` times corpus-wide (nav bars / cookie banners /
    copyright footers).  The documents table is single-line synthetic
    text, so the query first derives a multi-line web-page shape
    deterministically (sentence breaks + boilerplate header/footer) —
    mirrored exactly in the oracle — then runs the operator.

    Plan: posexplode → one exchange on the normalized line (frequency
    window + keep-filter share it) → one exchange on doc_id to
    re-assemble.  No driver-side state, no broadcast of a hot-line set."""
    from doctor_spark.operators.dedup import strip_common_lines

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    body = F.regexp_replace(F.col("text"), r"\. ", ".\n")
    aug = d.select(
        F.col("doc_id"),
        F.concat_ws(
            "\n",
            F.lit("Subscribe to our newsletter!"),
            body,
            F.when(F.col("doc_id") % 2 == 0, F.lit("All Rights Reserved."))
            .otherwise(F.lit("Privacy Policy | Terms of Use")),
        ).alias("text"),
    )
    out = strip_common_lines(aug, max_line_df=30)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
    )


@query(oracle="""
WITH aug AS (
  SELECT doc_id,
         'Share this article on social media.' || chr(10) || chr(10) ||
         regexp_replace(text, '\\. ', '.' || chr(10) || chr(10), 'g') AS text
  FROM documents WHERE text IS NOT NULL
), d AS (
  SELECT doc_id, str_split(text, chr(10) || chr(10)) AS ps FROM aug
), paras AS (
  SELECT doc_id, e.pos AS pos, e.p AS p, md5(trim(e.p)) AS fp
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ps) + 1),
                      i -> {'pos': i, 'p': ps[i]})) AS e
        FROM d)
), marked AS (
  SELECT doc_id, pos, p,
         (trim(p) = '' OR
          row_number() OVER (PARTITION BY fp ORDER BY doc_id, pos) = 1) AS keep
  FROM paras
)
SELECT doc_id::BIGINT AS doc_id,
       count(*)::BIGINT AS n_paras,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       (count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))::BIGINT AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN keep THEN p END,
                               chr(10) || chr(10) ORDER BY pos), '')) AS text_hash
FROM marked GROUP BY doc_id
""")
def q_paragraph_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma-style paragraph dedup: corpus-wide, only the first occurrence
    of each exact paragraph survives.  The single-line synthetic docs are
    given a web-page paragraph shape deterministically (sentence breaks →
    blank-line paragraphs + a shared share-bar paragraph) — mirrored
    exactly in the oracle — then the operator runs.  Plan: ONE exchange
    on the paragraph fingerprint (row_number window), ONE exchange back
    on doc_id."""
    from doctor_spark.operators.dedup import dedup_paragraphs

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    body = F.regexp_replace(F.col("text"), r"\. ", ".\n\n")
    aug = d.select(
        F.col("doc_id"),
        F.concat_ws(
            "\n\n", F.lit("Share this article on social media."), body
        ).alias("text"),
    )
    out = dedup_paragraphs(aug)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
    )


@query(oracle="""
WITH aug AS (
  SELECT doc_id,
         'Connect with us on social media.' || chr(10) || chr(10) ||
         regexp_replace(text, '\\. ', '.' || chr(10) || chr(10), 'g') ||
         chr(10) || chr(10) || 'Connect with us on social media.' AS text
  FROM documents WHERE text IS NOT NULL
), d AS (
  SELECT doc_id, str_split(text, chr(10) || chr(10)) AS ps FROM aug
), paras AS (
  SELECT doc_id, e.pos AS pos, e.p AS p, md5(trim(e.p)) AS fp
  FROM (SELECT doc_id,
               unnest(list_transform(range(1, len(ps) + 1),
                      i -> {'pos': i, 'p': ps[i]})) AS e
        FROM d)
), marked AS (
  SELECT doc_id, pos, p,
         (trim(p) = '' OR
          row_number() OVER (PARTITION BY doc_id, fp ORDER BY pos) = 1) AS keep
  FROM paras
)
SELECT doc_id::BIGINT AS doc_id,
       count(*)::BIGINT AS n_paras,
       sum(CASE WHEN keep THEN 1 ELSE 0 END)::BIGINT AS n_kept,
       (count(*) - sum(CASE WHEN keep THEN 1 ELSE 0 END))::BIGINT AS n_dropped,
       md5(coalesce(string_agg(CASE WHEN keep THEN p END,
                               chr(10) || chr(10) ORDER BY pos), '')) AS text_hash
FROM marked GROUP BY doc_id
""")
def q_para_dedup_intra(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Intra-document paragraph dedup: the zero-shuffle first rung of the
    dedup ladder — repeated in-page boilerplate (here a share-bar stamped
    at the top AND bottom of every synthesized page, mirrored exactly in
    the oracle) is dropped per-document before any corpus-wide stage
    pays an exchange for it.  Plan: pure map (split → prefix-exists
    filter → array_join), no explode, no window, no shuffle."""
    from doctor_spark.operators.dedup import dedup_paragraphs_within

    d = _docs_spread(spark, sf_dir).where(F.col("text").isNotNull())
    bar = "Connect with us on social media."
    body = F.regexp_replace(F.col("text"), r"\. ", ".\n\n")
    aug = d.select(
        "doc_id",
        F.concat_ws("\n\n", F.lit(bar), body, F.lit(bar)).alias("text"),
    )
    out = dedup_paragraphs_within(aug)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_paras").cast("bigint").alias("n_paras"),
        F.col("n_kept").cast("bigint").alias("n_kept"),
        F.col("n_dropped").cast("bigint").alias("n_dropped"),
        F.md5(F.col("text").cast("binary")).alias("text_hash"),
    )


@query(oracle=f"""
WITH a AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(coalesce(text, ''))),
         '{_JAVA_WS_CLASS}+', ' ', 'g')) AS old_fp
  FROM documents WHERE doc_id % 7 <> 0
), b AS (
  SELECT doc_id, md5(regexp_replace(trim(lower(
           CASE WHEN doc_id % 3 = 0 THEN coalesce(text, '') || ' v2'
                ELSE text END)),
         '{_JAVA_WS_CLASS}+', ' ', 'g')) AS new_fp
  FROM documents WHERE doc_id % 5 <> 0
)
SELECT coalesce(a.doc_id, b.doc_id)::BIGINT AS doc_id,
       CASE WHEN a.doc_id IS NULL THEN 'new'
            WHEN b.doc_id IS NULL THEN 'gone'
            WHEN a.old_fp = b.new_fp THEN 'same'
            ELSE 'changed' END AS status,
       a.old_fp, b.new_fp
FROM a FULL OUTER JOIN b ON a.doc_id = b.doc_id
""")
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDX-style incremental crawl diff: snapshot B vs snapshot A derived
    deterministically from the documents table (A drops doc_id % 7 == 0,
    B drops doc_id % 5 == 0 and edits the text of doc_id % 3 == 0), full-
    outer join on the key with fingerprint-only comparison — no text
    crosses the wire."""
    from doctor_spark.operators.incremental import snapshot_diff

    d = _docs(spark, sf_dir)
    a = d.where(F.col("doc_id") % 7 != 0).select("doc_id", "text")
    b = (
        d.where(F.col("doc_id") % 5 != 0)
        .select(
            "doc_id",
            F.when(
                F.col("doc_id") % 3 == 0,
                F.concat(F.coalesce(F.col("text"), F.lit("")), F.lit(" v2")),
            )
            .otherwise(F.col("text"))
            .alias("text"),
        )
    )
    out = snapshot_diff(a, b, key_col="doc_id")
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        "status",
        "old_fp",
        "new_fp",
    )


@query(oracle=f"""
WITH fp AS (
  SELECT doc_id, {_FP} AS fp FROM documents WHERE text IS NOT NULL
), pos AS (
  SELECT doc_id,
         ('0x' || substr(md5('b' || j::VARCHAR || '|' || fp), 1, 15))::BIGINT
           % 4096 AS bit
  FROM fp, unnest(range(0, 4)) AS u(j)
), abits AS (
  SELECT DISTINCT bit FROM pos WHERE doc_id < 250
), probes AS (
  SELECT doc_id, bit FROM pos WHERE doc_id >= 200
)
SELECT p.doc_id::BIGINT AS doc_id, (count(a.bit) = 4) AS maybe_in_a
FROM probes p LEFT JOIN abits a ON p.bit = a.bit
GROUP BY p.doc_id
""")
def q_bloom_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dolma/BFF-style Bloom-filter cross-corpus dedup, in the shape it
    is used for: snapshot B of a crawl probed against the Bloom filter of
    the previous snapshot A, where the snapshots overlap (A = doc_id <
    250, B = doc_id >= 200 — the 50-document overlap guarantees true
    hits, everything else exercises the negative path + Bloom false
    positives).  m=4096 bits / k=4 hashes, in the exactly-mirrorable
    JOIN form (build = bounded distinct-set-bits aggregate, probe = one
    keyed equi-join + all-k having).  The production dense-bitmap
    broadcast form is pinned identical by tests/test_plans.py."""
    from doctor_spark.operators.dedup import bloom_maybe_in, bloom_set_bits

    d = _docs(spark, sf_dir)
    a = d.where(F.col("doc_id") < 250)
    b = d.where(F.col("doc_id") >= 200)
    bits = bloom_set_bits(a, m_bits=4096, k_hashes=4)
    out = bloom_maybe_in(b, bits, m_bits=4096, k_hashes=4)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"), "maybe_in_a"
    )


@query(oracle=r"""
WITH bench AS (
  SELECT doc_id AS bench_id, text FROM documents
  WHERE text IS NOT NULL AND doc_id % 50 = 0
), train AS (
  SELECT d.doc_id,
         CASE WHEN d.doc_id % 10 = 3 AND b.text IS NOT NULL
              THEN d.text || ' ' || substring(b.text, 1, 80)
              ELSE d.text END AS text
  FROM documents d
  LEFT JOIN bench b ON b.bench_id = d.doc_id - (d.doc_id % 50)
  WHERE d.text IS NOT NULL AND d.doc_id % 50 <> 0
), tg AS (
  SELECT doc_id, md5(unnest(list_distinct(list_transform(
           range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))))) AS gh
  FROM (SELECT doc_id,
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS tk
        FROM train)
  WHERE len(tk) >= 8
), bg AS (
  SELECT bench_id AS bid, md5(unnest(list_distinct(list_transform(
           range(1, len(tk) - 6), i -> array_to_string(tk[i:i+7], ' '))))) AS gh
  FROM (SELECT bench_id,
               regexp_split_to_array(trim(lower(text)), '[ \t\n\x0b\f\r]+') AS tk
        FROM bench)
  WHERE len(tk) >= 8
)
SELECT t.doc_id::BIGINT AS doc_id,
       count(DISTINCT t.gh)::BIGINT AS n_hits,
       count(DISTINCT b.bid)::BIGINT AS n_bench_docs
FROM tg t JOIN bg b ON t.gh = b.gh
GROUP BY t.doc_id
HAVING count(DISTINCT t.gh) >= 1
""")
def q_decontaminate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Benchmark decontamination (GPT-3-appendix / Dolma method): flag
    training documents sharing any 8-token n-gram with an evaluation set.
    The synthetic corpus has no real contamination, so the query derives
    one deterministically — every doc_id % 50 == 0 document is "the
    benchmark", and docs with doc_id % 10 == 3 leak the first 80 chars of
    their block's benchmark doc into their text — mirrored exactly in the
    oracle.  One keyed equi-join on md5(n-gram); no cross product."""
    from doctor_spark.operators.dedup import decontaminate

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull())
    bench = d.where(F.col("doc_id") % 50 == 0).select(
        F.col("doc_id").alias("bench_id"), "text"
    )
    leak = bench.select(
        F.col("bench_id").alias("leak_src"),
        F.substring("text", 1, 80).alias("snippet"),
    )
    train = (
        d.where(F.col("doc_id") % 50 != 0)
        .withColumn("leak_src", F.col("doc_id") - (F.col("doc_id") % 50))
        .join(leak, "leak_src", "left")
        .select(
            "doc_id",
            F.when(
                (F.col("doc_id") % 10 == 3) & F.col("snippet").isNotNull(),
                F.concat(F.col("text"), F.lit(" "), F.col("snippet")),
            ).otherwise(F.col("text")).alias("text"),
        )
    )
    out = decontaminate(train, bench, n=8)
    return out.select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        F.col("n_hits").cast("bigint").alias("n_hits"),
        F.col("n_bench_docs").cast("bigint").alias("n_bench_docs"),
    )


@query(oracle=f"SELECT doc_id::BIGINT AS doc_id, {_FP} AS fp FROM documents")
def q_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.functions.text import fingerprint

    return _docs(spark, sf_dir).select(
        F.col("doc_id").cast("bigint").alias("doc_id"),
        fingerprint(F.col("text")).alias("fp"),
    )


# Content-defined-chunking synthesis — 8 constant payload arms built
# from shared blocks (B1/B2/B3) plus unique prefixes/suffixes, so the
# chunk table exercises: shared 192-byte prefix chunks across arms
# (0/1 and 3/4), intra-arm repeated chunks (the period-62 B3 block),
# forced max-size cuts, natural gear cuts, and a singleton payload.
# _CDC_CHUNKS pins the kernel's exact output per arm; asserted in
# tests/test_cdc.py (the pinned-literal oracle discipline).
_CDC_B1 = ("the quick brown fox jumps over the lazy dog and runs far "
           "away. " * 4).strip()


_CDC_B2 = ("lorem ipsum dolor sit amet consectetur adipiscing elit sed "
           "do eiusmod. " * 4).strip()


_CDC_B3 = ("header nav footer sidebar template chrome banner widget "
           "menu. " * 3).strip()


_CDC_ARMS = (
    _CDC_B1,
    _CDC_B1 + " " + "unique-zero-suffix-0123456789abcdef",
    "unique-one-prefix-fedcba9876543210 " + _CDC_B1,
    _CDC_B2,
    _CDC_B2 + " " + _CDC_B3,
    _CDC_B3 + " tail-five-aaaaaaaaaaaaaaaa",
    "solo-six-payload " + "x" * 150 + " end-of-six",
    _CDC_B1[:120] + " spliced " + _CDC_B2[:120],
)


_CDC_CHUNKS = (
    (0, 0, 192, "d3455b55f699107f465ebe048144b630"),
    (0, 192, 59, "71e6fd09d4626cad297da9cdba4fbc48"),
    (1, 0, 192, "d3455b55f699107f465ebe048144b630"),
    (1, 192, 95, "475b519e6014a3b507bf6b130b42e4af"),
    (2, 0, 192, "07b3bd245013f9bcb1eb79f30887e6cf"),
    (2, 192, 94, "d4b23b817cd235c75e081b9790394360"),
    (3, 0, 192, "5ba5cba0b4f89d36958a5e400d5862e2"),
    (3, 192, 91, "c13ec9a0cd933e78340b85bb3f9de686"),
    (4, 0, 192, "5ba5cba0b4f89d36958a5e400d5862e2"),
    (4, 192, 147, "cbb351ae4708fb85dd4210038841e58e"),
    (4, 339, 62, "ef45dc67735884c7d697206d829b3cd5"),
    (4, 401, 62, "ef45dc67735884c7d697206d829b3cd5"),
    (4, 463, 6, "e4b80fa15c7f04feb0e6a4062da9c578"),
    (5, 0, 55, "abdad92c28ffd66e31b43aa57a844016"),
    (5, 55, 62, "ef45dc67735884c7d697206d829b3cd5"),
    (5, 117, 62, "ef45dc67735884c7d697206d829b3cd5"),
    (5, 179, 33, "ad872440c21c683b401b6077c405732a"),
    (6, 0, 178, "308900d556faf2236c70cd63b56b55d1"),
    (7, 0, 192, "37516dea36cfbbeaeec76df86849bbfb"),
    (7, 192, 57, "697124197c63b55f97ee6c3ecaf07424"),
)


_CDC_SYNTH_SQL = "CASE CAST(doc_id % 8 AS INT) " + " ".join(
    f"WHEN {i} THEN '{arm}'" for i, arm in enumerate(_CDC_ARMS[:-1])
) + f" ELSE '{_CDC_ARMS[-1]}' END"


def _cdc_dedup_sql() -> str:
    """Closed-form replay of q_cdc_dedup: the pinned per-arm chunk
    VALUES table (tests/test_cdc.py asserts it equals the kernel)
    joined to arm counts; totals and the distinct-hash rollup are plain
    SQL arithmetic."""
    values = ", ".join(
        f"({a}, {o}, {ln}, '{h}')" for a, o, ln, h in _CDC_CHUNKS
    )
    return f"""
WITH d AS (
  SELECT CAST(doc_id % 8 AS INT) AS arm FROM documents
  WHERE text IS NOT NULL
),
counts AS (SELECT arm, count(*)::BIGINT AS n FROM d GROUP BY arm),
ch(arm, off, len, hash) AS (VALUES {values}),
per AS (SELECT counts.n, ch.len, ch.hash FROM counts JOIN ch USING (arm)),
tot AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_chunks,
         CAST(sum(n * len) AS BIGINT) AS bytes_total
  FROM per
),
dist AS (SELECT hash, min(len) AS len FROM per GROUP BY hash),
ds AS (
  SELECT count(*)::BIGINT AS n_distinct_chunks,
         CAST(sum(len) AS BIGINT) AS bytes_distinct
  FROM dist
),
np AS (SELECT count(*)::BIGINT AS n_payloads FROM d)
SELECT np.n_payloads, tot.n_chunks, ds.n_distinct_chunks,
       tot.bytes_total, ds.bytes_distinct,
       CAST((ds.bytes_distinct * 1000000) // tot.bytes_total AS BIGINT)
         AS dedup_ratio_micro
FROM np, tot, ds
"""


@query(oracle=_cdc_dedup_sql())
def q_cdc_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Content-defined-chunking dedup accounting (gear-CDC, the FastCDC
    core loop, kernels/cdc.py): chunk every payload on content-defined
    boundaries, store each distinct chunk once, report the byte-level
    dedup ratio — the sub-payload complement to WARC revisit dedup.
    ONE Arrow chunking pass + ONE chunk-hash keyed aggregate (map-side
    combine absorbs hot chunks).  Oracle: per-arm chunk tables as
    pinned VALUES literals (asserted against the kernel in
    tests/test_cdc.py) joined to arm counts — pure closed-form
    arithmetic."""
    from doctor_spark.operators.cdc import cdc_chunks, cdc_dedup_stats

    d = _docs(spark, sf_dir).where(F.col("text").isNotNull()).select(
        F.encode(F.expr(_CDC_SYNTH_SQL), "UTF-8").alias("payload")
    )
    ch = cdc_chunks(d, min_size=24, max_size=192, mask=0x3F)
    np = d.agg(F.count("*").alias("n_payloads"))
    return cdc_dedup_stats(ch, np)


def _verified_neardup_sql(threshold: int = 600_000) -> str:
    """The demo-width minhash replay as a subquery, then DuckDB
    levenshtein + the exact ((maxlen-lev)*1e6) DIV maxlen integer
    similarity and the threshold filter."""
    return f"""
WITH pairs AS ({_minhash_sql()}),
scored AS (
  SELECT p.id_a, p.id_b,
         levenshtein(da.text, db.text)::BIGINT AS lev,
         greatest(length(da.text), length(db.text))::BIGINT AS mx
  FROM pairs p
  JOIN documents da ON da.doc_id = p.id_a
  JOIN documents db ON db.doc_id = p.id_b
),
sim AS (
  SELECT id_a, id_b, lev,
         CASE WHEN mx = 0 THEN 1000000
              ELSE ((mx - lev) * 1000000) // mx END::BIGINT AS sim_micro
  FROM scored
)
SELECT id_a, id_b, lev, sim_micro FROM sim
WHERE sim_micro >= {threshold}
ORDER BY id_a, id_b
"""


@query(oracle=_verified_neardup_sql())
def q_verified_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The candidate->verify rung of production near-dup dedup: MinHash
    LSH proposes pairs (banding = cheap recall + band-collision false
    positives), exact Levenshtein similarity verifies each candidate —
    sketch to propose, exact-verify to decide, never all-pairs.  The
    verify stage is pure JVM codegen (F.levenshtein); the only Python
    is the band-signature UDF the minhash family already pays.  Oracle:
    the minhash replay wrapped as a subquery, then DuckDB levenshtein +
    the same integer similarity arithmetic (engines agree exactly on
    ASCII; the byte-vs-codepoint divergence on non-ASCII is documented
    on the operator)."""
    from doctor_spark.operators.dedup import verified_neardup_pairs

    out = verified_neardup_pairs(
        _docs_spread(spark, sf_dir), sim_threshold_micro=600_000
    )
    return _present(out.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        "lev",
        "sim_micro",
    ), "id_a", "id_b")


def _temporal_leakage_sql() -> str:
    """The verified-neardup replay as a subquery, the doc_id%30<15
    partition arm on both sides, and the crossing-count/micro-fraction
    arithmetic."""
    return f"""
WITH pairs AS ({_verified_neardup_sql()}),
parts AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 30 < 15 THEN 'train' ELSE 'test' END AS part
  FROM documents
),
j AS (
  SELECT pa.part AS p_a, pb.part AS p_b
  FROM pairs
  JOIN parts pa ON pa.id = pairs.id_a
  JOIN parts pb ON pb.id = pairs.id_b
),
agg AS (
  SELECT count(*)::BIGINT AS n_pairs,
         coalesce(sum(CASE WHEN p_a <> p_b THEN 1 ELSE 0 END), 0)::BIGINT
           AS n_cross
  FROM j
)
SELECT n_pairs, n_cross,
       CASE WHEN n_pairs = 0 THEN 0
            ELSE (n_cross * 1000000) // n_pairs END::BIGINT AS leak_micro
FROM agg
"""


@query(oracle=_temporal_leakage_sql())
def q_temporal_leakage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal-cutoff contamination audit: verified near-dup pairs
    (the minhash->levenshtein rung) crossing a train/test time
    boundary — re-crawls and syndication duplicate content across
    time, so a temporal split leaks where a host-disjoint split cannot;
    this query MEASURES that residual.  Partition arm is deterministic
    (crawl day = doc_id % 30, cutoff at day 15 — the timestamp-free
    stand-in the shared synthesis discipline allows).  Oracle: the
    verified-neardup replay as a subquery + the same crossing-count
    arithmetic."""
    from doctor_spark.operators.dedup import verified_neardup_pairs
    from doctor_spark.operators.splits import cross_split_leakage

    d = _docs_spread(spark, sf_dir)
    pairs = verified_neardup_pairs(d, sim_threshold_micro=600_000)
    assign = d.select(
        F.col("doc_id").alias("id"),
        F.when(F.col("doc_id") % 30 < 15, "train")
        .otherwise("test").alias("part"),
    )
    return cross_split_leakage(pairs, assign)


def _containment_est_sql(
    n_perms: int = 128, rows_per_band: int = 8, n: int = 3,
    threshold: float = 0.5, min_shingles: int = 5,
) -> str:
    """Estimator oracle: the w128 signature replay (hex-prefix→BIGINT,
    affine mod, list min) + per-pair agreement count over the 128
    signature columns + the identical int64 c_est arithmetic."""
    from doctor_spark.operators.dedup import _affine_params

    a, b = _affine_params(n_perms)
    shingle = (
        f"list_distinct(list_transform(range(1, len({_TOKS}) - {n - 2}), "
        f"i -> array_to_string(({_TOKS})[i:i+{n - 1}], ' ')))"
    )
    mh_cols = ", ".join(
        "list_aggregate(list_transform(h32, "
        f"h -> (h * {a[i]} + {b[i]}) % 4294967296), 'min') AS mh{i}"
        for i in range(n_perms)
    )
    n_bands = n_perms // rows_per_band
    band_selects = " UNION ALL ".join(
        "SELECT doc_id, {b} AS band_no, md5({key}) AS band_key FROM sigs".format(
            b=bi,
            key=" || '|' || ".join(
                f"mh{i}::VARCHAR"
                for i in range(bi * rows_per_band, (bi + 1) * rows_per_band)
            ),
        )
        for bi in range(n_bands)
    )
    # chunked parenthesization: a flat 128-term `+` chain binds as a
    # 128-deep left-assoc tree and trips DuckDB's recursion limit; 16
    # groups of 8 keep every subtree shallow (integer addition is
    # associative, so the grouping cannot change the value)
    m_terms = [f"(sa.mh{i} = sb.mh{i})::BIGINT" for i in range(n_perms)]
    m_sum = " + ".join(
        "(" + " + ".join(m_terms[g:g + 8]) + ")"
        for g in range(0, n_perms, 8)
    )
    thr_micro = int(round(threshold * 1_000_000))
    return f"""
WITH sh_t AS (
  SELECT doc_id, {shingle} AS sh FROM documents WHERE len({_TOKS}) >= {n}
), h_t AS (
  SELECT doc_id, len(sh) AS n_sh,
         list_transform(sh, s -> ('0x' || substr(md5(s), 1, 8))::BIGINT) AS h32
  FROM sh_t
), sigs AS (
  SELECT doc_id, n_sh, {mh_cols} FROM h_t
), banded AS (
  {band_selects}
), pairs AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
  FROM banded a JOIN banded b
    ON a.band_no = b.band_no AND a.band_key = b.band_key
   AND a.doc_id < b.doc_id
), scored AS (
  SELECT p.id_a, p.id_b, sa.n_sh AS n_a, sb.n_sh AS n_b,
         ({m_sum}) AS m
  FROM pairs p
  JOIN sigs sa ON sa.doc_id = p.id_a
  JOIN sigs sb ON sb.doc_id = p.id_b
), d AS (
  SELECT id_a::BIGINT AS src_id, id_b::BIGINT AS dst_id,
         n_a AS n_src, n_b AS n_dst, m FROM scored
  UNION ALL
  SELECT id_b::BIGINT, id_a::BIGINT, n_b, n_a, m FROM scored
)
SELECT src_id, dst_id, m::BIGINT AS m,
       ((m * (n_src + n_dst) * 1000000)
        // (({n_perms} + m) * n_src))::BIGINT AS c_est_micro
FROM d
WHERE n_src >= {min_shingles}
  AND (m * (n_src + n_dst) * 1000000)
      // (({n_perms} + m) * n_src) >= {thr_micro}
"""


@query(oracle=_containment_est_sql())
def q_containment_est(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MinHash-ESTIMATED directed containment — the sketch path for
    containment_pairs at web scale: production-width signatures (128
    perms / 16 bands) generate candidates through the single-exchange
    band join, then c_est = m·(|A|+|B|)·1e6 DIV ((128+m)·|A|) from the
    signature-agreement count m and the EXACT shingle counts — pure
    int64, so the estimator is bit-exact across engines while only
    approximating the true containment (quality bounded vs the exact
    operator in tests/test_containment_est.py)."""
    from doctor_spark.operators.dedup import containment_est_pairs

    p = containment_est_pairs(
        _docs_spread(spark, sf_dir), threshold=0.5, min_shingles=5,
    )
    return p.select(
        F.col("src_id").cast("bigint").alias("src_id"),
        F.col("dst_id").cast("bigint").alias("dst_id"),
        F.col("m").cast("bigint").alias("m"),
        F.col("c_est_micro").cast("bigint").alias("c_est_micro"),
    )


def _containment_sql(
    n: int = 3, threshold: float = 0.5, max_df: int = 100,
    min_shingles: int = 5,
) -> str:
    """Directed Broder containment over the jaccard oracle's shingle /
    60-bit-hash / DF-cap CTEs: undirected (a<b) intersection counts,
    then a two-way projection gated on the SOURCE set-size floor."""
    return f"""
WITH toks AS (
  SELECT doc_id, {_TOKS} AS tk FROM documents
), sh AS (
  SELECT doc_id,
         list_distinct(list_transform(range(1, len(tk) - {n - 2}),
           i -> array_to_string(tk[i:i+{n - 1}], ' '))) AS shl
  FROM toks WHERE len(tk) >= {n}
), ex0 AS (
  SELECT doc_id, len(shl) AS n_sh,
         ('0x' || substr(md5(unnest(shl)), 1, 15))::BIGINT AS shingle
  FROM sh
), ex AS (
  SELECT doc_id, n_sh, shingle FROM (
    SELECT *, count(*) OVER (PARTITION BY shingle) AS df FROM ex0
  ) WHERE df <= {max_df}
), p AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b,
         any_value(a.n_sh) AS n_a, any_value(b.n_sh) AS n_b,
         count(*) AS inter
  FROM ex a JOIN ex b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY a.doc_id, b.doc_id
), d AS (
  SELECT id_a::BIGINT AS src_id, id_b::BIGINT AS dst_id,
         n_a AS n_src, inter FROM p
  UNION ALL
  SELECT id_b::BIGINT, id_a::BIGINT, n_b, inter FROM p
)
SELECT src_id, dst_id,
       round(inter::DOUBLE / n_src, 4) AS containment
FROM d
WHERE n_src >= {min_shingles}
  AND round(inter::DOUBLE / n_src, 4) >= {threshold}
"""


@query(oracle=_containment_sql())
def q_containment_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Broder (1997) shingle CONTAINMENT c(A->B) = |S(A)∩S(B)| / |S(A)|
    — the asymmetric dedup rung Jaccard misses: a syndicated article
    pasted into a longer page has low resemblance but containment ≈ 1
    in one direction.  DIRECTED output (src contained in dst); same
    inverted-index cost envelope as dedup_ngram_jaccard (one shingle
    exchange reused by DF-cap window + self-join), directed rows
    projected from the undirected aggregate so the join pays a<b only.
    Oracle: the jaccard oracle's shingle/hash/cap CTEs + a two-way
    directed projection."""
    from doctor_spark.operators.dedup import containment_pairs

    p = containment_pairs(
        _docs(spark, sf_dir), threshold=0.5, max_shingle_df=100,
        min_shingles=5,
    )
    return p.select(
        F.col("src_id").cast("bigint").alias("src_id"),
        F.col("dst_id").cast("bigint").alias("dst_id"),
        F.col("containment").cast("double").alias("containment"),
    )
