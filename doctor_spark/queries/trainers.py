"""Distributed trainers: the BPE merge learner with its token histogram
and the Naive Bayes language classifier."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import _TOKS, _docs, query


def _bpe_sql(n_merges: int = 8, final: str = "merges") -> str:
    """EXACT oracle for the distributed BPE trainer: the merge loop is
    UNROLLED into one CTE chain per rank (pair totals → argmax with the
    concat-key tie-break → list_reduce LTR merge).  DuckDB's
    list_reduce fold replays operators/bpe.merge_syms bit-for-bit, so
    an iterative trainer still gets a hash-exact SQL oracle."""
    sep = "chr(31)"
    cte = [f"""w0 AS (
  SELECT regexp_replace(word, '(.)', '\\1' || {sep}, 'g') || '</w>' AS syms,
         cnt
  FROM (SELECT token AS word, count(*) AS cnt
        FROM (SELECT unnest({_TOKS}) AS token FROM documents)
        WHERE token <> '' AND strpos(token, {sep}) = 0
        GROUP BY token)
)"""]
    for i in range(1, n_merges + 1):
        cte.append(f"""p{i} AS (
  SELECT u.pair, sum(w.cnt) AS total
  FROM w{i - 1} w,
       unnest(list_transform(range(1, len(string_split(w.syms, {sep}))),
              j -> string_split(w.syms, {sep})[j] || {sep}
                   || string_split(w.syms, {sep})[j + 1])) AS u(pair)
  GROUP BY u.pair
)""")
        cte.append(f"""m{i} AS (
  SELECT {i} AS rnk,
         string_split(pair, {sep})[1] AS l,
         string_split(pair, {sep})[2] AS r,
         total
  FROM p{i} ORDER BY total DESC, pair ASC LIMIT 1
)""")
        cte.append(f"""w{i} AS (
  SELECT CASE WHEN len(string_split(w.syms, {sep})) = 1 THEN w.syms
         ELSE list_reduce(string_split(w.syms, {sep}),
           (acc, x) -> CASE
             WHEN x = m.r AND (acc = m.l
                               OR right(acc, length(m.l) + 1) = {sep} || m.l)
             THEN left(acc, length(acc) - length(m.l)) || m.l || m.r
             ELSE acc || {sep} || x END) END AS syms,
         w.cnt
  FROM w{i - 1} w CROSS JOIN m{i} m
)""")
    union = "\nUNION ALL\n".join(f"SELECT * FROM m{i}"
                                 for i in range(1, n_merges + 1))
    if final == "tokens":
        # the trainer's FINAL segmentation: token histogram of the last
        # word-table level (what bpe_token_counts recomputes by replaying
        # the learned merges through the same fold kernel)
        return (
            "WITH " + ",\n".join(cte)
            + f"""
SELECT u.token, sum(w.cnt)::BIGINT AS cnt
FROM w{n_merges} w, unnest(string_split(w.syms, {sep})) AS u(token)
GROUP BY u.token
"""
        )
    return (
        "WITH " + ",\n".join(cte)
        + f"""
SELECT rnk::INT AS rank, l AS "left", r AS "right", total::BIGINT AS freq
FROM ({union})
"""
    )


@query(oracle=_bpe_sql())
def q_bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed BPE tokenizer training, first 8 merges: ONE
    corpus-scale exchange builds the word-count table, then each merge
    is a map-side Arrow pair kernel + a tiny keyed agg + a single-row
    argmax collect.  The oracle unrolls the identical loop in SQL
    (list_reduce == the trainer's LTR fold), so the iterative operator
    is hash-exact, not rows-only."""
    from doctor_spark.operators.bpe import bpe_merge_table

    t = bpe_merge_table(_docs(spark, sf_dir), n_merges=8)
    return t.select(
        F.col("rank").cast("int").alias("rank"),
        F.col("left"),
        F.col("right"),
        F.col("freq").cast("bigint").alias("freq"),
    )


@query(oracle=_bpe_sql(final="tokens"))
def q_bpe_token_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Token histogram after applying the 8 learned merges — closes the
    train→apply loop: the oracle reads its own final CTE level, so any
    drift between the trainer's evolution and the apply kernel
    hash-mismatches."""
    from doctor_spark.operators.bpe import bpe_token_counts

    t = bpe_token_counts(_docs(spark, sf_dir), n_merges=8)
    return t.select(F.col("token"), F.col("cnt").cast("bigint").alias("cnt"))


@query(oracle=f"""
WITH toks AS (
  SELECT doc_id, lang, t.token
  FROM documents, unnest({_TOKS}) AS t(token)
  WHERE t.token <> ''
), cnt AS (
  SELECT lang AS label, token, count(*) AS c FROM toks GROUP BY 1, 2
), tot AS (
  SELECT label, sum(c) AS t FROM cnt GROUP BY 1
), voc AS (
  SELECT count(DISTINCT token) AS v FROM toks
), mdl AS (
  SELECT c.label, c.token,
         floor(log10((c.c + 1)::DOUBLE / (t.t + voc.v)) * 1e6 + 0.5)::BIGINT
           AS lp
  FROM cnt c JOIN tot t USING (label), voc
), lab AS (
  SELECT d.lang AS label,
         floor(log10(count(*)::DOUBLE
                     / (SELECT count(*) FROM documents)) * 1e6 + 0.5)::BIGINT
           AS lp_prior
  FROM documents d GROUP BY 1
), uns AS (
  SELECT t.label,
         floor(log10(1.0 / (t.t + voc.v)) * 1e6 + 0.5)::BIGINT AS lp_unseen
  FROM tot t, voc
), ntk AS (
  SELECT doc_id, count(*) AS n FROM toks GROUP BY 1
), mt AS (
  SELECT tk.doc_id, m.label, sum(m.lp) AS s, count(*) AS k
  FROM toks tk JOIN mdl m ON m.token = tk.token
  GROUP BY 1, 2
), sc AS (
  SELECT d.doc_id, d.lang AS true_label, lab.label,
         lab.lp_prior + coalesce(mt.s, 0)
           + (ntk.n - coalesce(mt.k, 0)) * uns.lp_unseen AS score
  FROM documents d
  JOIN ntk USING (doc_id)
  CROSS JOIN lab
  JOIN uns ON uns.label = lab.label
  LEFT JOIN mt ON mt.doc_id = d.doc_id AND mt.label = lab.label
), pred AS (
  SELECT true_label, label FROM (
    SELECT *, row_number() OVER (PARTITION BY doc_id
                                 ORDER BY score DESC, label ASC) AS rn
    FROM sc
  ) WHERE rn = 1
)
SELECT true_label AS lang, label AS predicted, count(*)::BIGINT AS n
FROM pred GROUP BY 1, 2
""")
def q_nb_confusion(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Naive Bayes language classifier trained distributed on the
    corpus, self-prediction confusion matrix.  All weights are int64
    micro-log10 (libm log10 both engines), scores are integer sums —
    the oracle replays counts, Laplace smoothing, quantization, and
    the (score DESC, label ASC) argmax exactly."""
    from doctor_spark.operators.nbayes import nb_confusion

    out = nb_confusion(_docs(spark, sf_dir))
    return out.select(
        F.col("lang"),
        F.col("predicted"),
        F.col("n").cast("bigint").alias("n"),
    )
