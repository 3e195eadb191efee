"""Embedding similarity queries: brute-force, LSH and IVF nearest
neighbours, embedding near-duplicates, SemDeDup and k-means training."""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from doctor_spark.queries import _emb, query


@query(oracle="""
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv
  FROM embeddings WHERE vec_id < 10
), c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv
  FROM embeddings WHERE vec_id >= 10
), scored AS (
  SELECT query_id, neighbor_id,
         round(list_sum(list_transform(range(1, len(qv) + 1), i -> qv[i] * cv[i]))
               / (sqrt(list_sum(list_transform(qv, x -> x * x)))
                  * sqrt(list_sum(list_transform(cv, x -> x * x)))), 4) AS score
  FROM q, c
), ranked AS (
  SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
         score::DOUBLE AS score,
         row_number() OVER (PARTITION BY query_id
                            ORDER BY score DESC, neighbor_id ASC)::BIGINT AS rank
  FROM scored
)
SELECT * FROM ranked WHERE rank <= 3
""")
def q_ann_cosine_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    from doctor_spark.operators.similarity import brute_force_topk

    t = brute_force_topk(_emb(spark, sf_dir), query_ids=list(range(10)), k=3)
    return t.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("score").cast("double").alias("score"),
        F.col("rank").cast("bigint").alias("rank"),
    )


# ---- LSH / IVF oracle builders: the hyperplanes and centroids are
# deterministic (md5-seeded / smallest-id), so DuckDB can enumerate the
# exact same buckets the engine uses --------------------------------------
_TWO60 = float(1 << 60)  # 16^15, the hyperplane hash normalizer


def _plane_dot(vec: str, plane_no: int, dim: int) -> str:
    """SQL for v · plane(plane_no) — mirrors similarity._hyperplane:
    component j = (md5('plane{pn}:{j}')[:15 hex] / 16^15) * 2 - 1."""
    return (
        f"list_sum(list_transform(range(1, {dim + 1}), i -> {vec}[i] * "
        f"((('0x' || substr(md5('plane{plane_no}:' || (i-1)::VARCHAR), 1, 15))"
        f"::BIGINT / {_TWO60}) * 2.0 - 1.0)))"
    )


def _bucket_expr(vec: str, table_no: int, n_planes: int, dim: int) -> str:
    bits = " + ".join(
        f"(CASE WHEN {_plane_dot(vec, table_no * 1000 + p, dim)} >= 0 "
        f"THEN {2 ** p} ELSE 0 END)"
        for p in range(n_planes)
    )
    return f"({bits})::BIGINT"


def _lsh_ann_sql(
    n_queries: int = 10, k: int = 3, dim: int = 64, n_planes: int = 4,
    n_tables: int = 3,
) -> str:
    buckets = ", ".join(
        f"{_bucket_expr('v', t, n_planes, dim)} AS b{t}" for t in range(n_tables)
    )
    same_bucket = " OR ".join(f"q.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT id, {buckets} FROM e
), pairs AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM b q JOIN b c ON ({same_bucket})
  WHERE q.id < {n_queries} AND c.id >= {n_queries}
), scored AS (
  SELECT p.query_id, p.neighbor_id,
         round(list_sum(list_transform(range(1, {dim + 1}),
                                       i -> qe.v[i] * ce.v[i]))
               / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(ce.v, x -> x * x)))), 4)
           AS score
  FROM pairs p JOIN e qe ON qe.id = p.query_id JOIN e ce ON ce.id = p.neighbor_id
)
SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
       score::DOUBLE AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rnk
      FROM scored)
WHERE rnk <= {k}
"""


@query(oracle=_lsh_ann_sql())
def q_lsh_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LSH-bucketed ANN (scale path): the md5-seeded hyperplanes are
    deterministic, so the SQL oracle enumerates the exact same buckets;
    recall vs brute force is additionally pytest-gated."""
    from doctor_spark.operators.similarity import lsh_ann_topk

    t = lsh_ann_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), dim=64, k=3,
        n_planes=4, n_tables=3,
    )
    return t.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("score").cast("double").alias("score"),
    )


def _lsh_ann_corpus_sql(
    k: int = 2, dim: int = 64, n_planes: int = 4, n_tables: int = 3,
) -> str:
    """Corpus-vs-corpus mirror of _lsh_ann_sql: every id is a query,
    directed same-bucket pairs (q ≠ c)."""
    buckets = ", ".join(
        f"{_bucket_expr('v', t, n_planes, dim)} AS b{t}" for t in range(n_tables)
    )
    same_bucket = " OR ".join(f"q.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT id, {buckets} FROM e
), pairs AS (
  SELECT DISTINCT q.id AS query_id, c.id AS neighbor_id
  FROM b q JOIN b c ON ({same_bucket})
  WHERE q.id <> c.id
), scored AS (
  SELECT p.query_id, p.neighbor_id,
         round(list_sum(list_transform(range(1, {dim + 1}),
                                       i -> qe.v[i] * ce.v[i]))
               / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(ce.v, x -> x * x)))), 4)
           AS score
  FROM pairs p JOIN e qe ON qe.id = p.query_id JOIN e ce ON ce.id = p.neighbor_id
)
SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
       score::DOUBLE AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rnk
      FROM scored)
WHERE rnk <= {k}
"""


@query(oracle=_lsh_ann_corpus_sql())
def q_lsh_ann_corpus_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-vs-corpus ANN: top-2 neighbors for EVERY vector via the
    bucket self-join (no broadcast of a query set anywhere — the scale
    form when 'queries = the whole corpus').  ONE bucket exchange feeds
    both join sides (ReusedExchange); exact-cosine rescore in the Arrow
    pair kernel."""
    from doctor_spark.operators.similarity import lsh_ann_corpus_topk

    t = lsh_ann_corpus_topk(
        _emb(spark, sf_dir), dim=64, k=2, n_planes=4, n_tables=3
    )
    return t.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("score").cast("double").alias("score"),
    )


def _ivf_ann_sql(
    n_queries: int = 10, k: int = 3, dim: int = 64, n_centroids: int = 16,
    nprobe: int = 6,
) -> str:
    ndot = (
        f"round(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> s.nv[i] * ct.cv[i])), 12)"
    )
    return f"""
WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), norms AS (
  SELECT id, v,
         list_transform(v, x -> x / sqrt(list_sum(
             list_transform(v, y -> y * y)))) AS nv
  FROM e
), cents AS (
  SELECT id AS cid, nv AS cv FROM norms WHERE id < {n_centroids}
), cand_sims AS (
  SELECT s.id, ct.cid, {ndot} AS sim
  FROM norms s CROSS JOIN cents ct WHERE s.id >= {n_queries}
), assign AS (
  SELECT id, cid AS bucket FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id
                                       ORDER BY sim DESC, cid ASC) AS rn
    FROM cand_sims
  ) WHERE rn = 1
), query_sims AS (
  SELECT s.id, ct.cid, {ndot} AS sim
  FROM norms s CROSS JOIN cents ct WHERE s.id < {n_queries}
), probes AS (
  SELECT id AS query_id, cid AS bucket FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id
                                       ORDER BY sim DESC, cid ASC) AS rn
    FROM query_sims
  ) WHERE rn <= {nprobe}
), pairs AS (
  SELECT p.query_id, a.id AS neighbor_id
  FROM probes p JOIN assign a ON p.bucket = a.bucket
), scored AS (
  SELECT p.query_id, p.neighbor_id,
         round(list_sum(list_transform(range(1, {dim + 1}),
                                       i -> qe.v[i] * ce.v[i]))
               / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(ce.v, x -> x * x)))), 4)
           AS score
  FROM pairs p JOIN e qe ON qe.id = p.query_id JOIN e ce ON ce.id = p.neighbor_id
)
SELECT query_id::BIGINT AS query_id, neighbor_id::BIGINT AS neighbor_id,
       score::DOUBLE AS score
FROM (SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY score DESC, neighbor_id ASC) AS rnk
      FROM scored)
WHERE rnk <= {k}
"""


@query(oracle=_ivf_ann_sql())
def q_ivf_ann_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF-flat ANN (scale path #2): centroid choice (smallest ids) and
    assignment (rounded-argmax) are deterministic and mirrored exactly in
    the SQL oracle; recall vs brute force is additionally pytest-gated."""
    from doctor_spark.operators.similarity import ivf_ann_topk

    t = ivf_ann_topk(
        _emb(spark, sf_dir), query_ids=list(range(10)), k=3,
        n_centroids=16, nprobe=6,
    )
    return t.select(
        F.col("query_id").cast("bigint").alias("query_id"),
        F.col("neighbor_id").cast("bigint").alias("neighbor_id"),
        F.col("score").cast("double").alias("score"),
    )


def _neardup_sql(
    threshold: float = 0.35, dim: int = 64, n_planes: int = 4,
    n_tables: int = 3,
) -> str:
    buckets = ", ".join(
        f"{_bucket_expr('v', t, n_planes, dim)} AS b{t}" for t in range(n_tables)
    )
    same_bucket = " OR ".join(f"a.b{t} = c.b{t}" for t in range(n_tables))
    return f"""
WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), b AS (
  SELECT id, {buckets} FROM e
), cand AS (
  SELECT DISTINCT a.id AS id_a, c.id AS id_b
  FROM b a JOIN b c ON a.id < c.id AND ({same_bucket})
)
SELECT id_a, id_b, cos_sim FROM (
  SELECT p.id_a::BIGINT AS id_a, p.id_b::BIGINT AS id_b,
         round(list_sum(list_transform(range(1, {dim + 1}),
                                       i -> qe.v[i] * ce.v[i]))
               / (sqrt(list_sum(list_transform(qe.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(ce.v, x -> x * x)))), 4)
           AS cos_sim
  FROM cand p JOIN e qe ON qe.id = p.id_a JOIN e ce ON ce.id = p.id_b
) WHERE cos_sim >= {threshold}
"""


@query(oracle=_neardup_sql())
def q_embedding_neardup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-duplicate pairs (dedup family): LSH-bucketed
    candidates + exact cosine rescore at 0.35 — the scale path (same-bucket
    keyed joins, never an all-pairs crossJoin).  The md5-seeded hyperplanes
    are mirrored exactly in the SQL oracle."""
    from doctor_spark.operators.similarity import embedding_neardup_pairs

    p = embedding_neardup_pairs(
        _emb(spark, sf_dir), threshold=0.35, dim=64, n_planes=4, n_tables=3
    )
    return p.select(
        F.col("id_a").cast("bigint").alias("id_a"),
        F.col("id_b").cast("bigint").alias("id_b"),
        F.col("cos_sim").cast("double").alias("cos_sim"),
    )


def _semdedup_sql(
    n_clusters: int = 16, threshold: float = 0.35, dim: int = 64,
) -> str:
    """SemDeDup mirror: assignment replays the IVF oracle's normalize +
    round-12 dot + (sim DESC, cid ASC) tie-break; pair cosine replays
    the neardup oracle's raw-vector round-4 formula."""
    ndot = (
        f"round(list_sum(list_transform(range(1, {dim + 1}), "
        f"i -> s.nv[i] * ct.cv[i])), 12)"
    )
    return f"""
WITH e AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v FROM embeddings
), norms AS (
  SELECT id, v,
         list_transform(v, x -> x / sqrt(list_sum(
             list_transform(v, y -> y * y)))) AS nv
  FROM e
), cents AS (
  SELECT id AS cid, nv AS cv FROM norms WHERE id < {n_clusters}
), sims AS (
  SELECT s.id, ct.cid, {ndot} AS sim
  FROM norms s CROSS JOIN cents ct
), assign AS (
  SELECT id, cid AS cluster FROM (
    SELECT id, cid, row_number() OVER (PARTITION BY id
                                       ORDER BY sim DESC, cid ASC) AS rn
    FROM sims
  ) WHERE rn = 1
), pairs AS (
  SELECT b.id AS id_b,
         round(list_sum(list_transform(range(1, {dim + 1}),
                                       i -> ea.v[i] * eb.v[i]))
               / (sqrt(list_sum(list_transform(ea.v, x -> x * x)))
                  * sqrt(list_sum(list_transform(eb.v, x -> x * x)))), 4)
           AS cos_sim
  FROM assign a JOIN assign b ON a.cluster = b.cluster AND a.id < b.id
  JOIN e ea ON ea.id = a.id JOIN e eb ON eb.id = b.id
), removed AS (
  SELECT DISTINCT id_b AS id FROM pairs WHERE cos_sim >= {threshold}
)
SELECT a.id::BIGINT AS id, a.cluster::INT AS cluster,
       (r.id IS NULL) AS kept
FROM assign a LEFT JOIN removed r ON r.id = a.id
"""


@query(oracle=_semdedup_sql())
def q_semdedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup (Abbas et al. 2023): deterministic coarse-quantizer
    clusters + within-cluster keep-first cosine dedup.  The assignment
    mirrors the IVF oracle (normalize, round-12 dot, first-max
    tie-break); pair cosine mirrors the neardup oracle (raw-vector
    cosine, round 4)."""
    from doctor_spark.operators.similarity import semdedup

    out = semdedup(_emb(spark, sf_dir), n_clusters=16, threshold=0.35,
                   dim=64)
    return out.select(
        F.col("id").cast("bigint").alias("id"),
        F.col("cluster").cast("int").alias("cluster"),
        F.col("kept").alias("kept"),
    )


def _kmeans_sql(k: int = 8, iters: int = 3, dim: int = 64) -> str:
    """Unrolled mirror of operators/kmeans.py: quantize → (assign →
    update) × iters → final assign → per-cluster summary.  Update uses
    floor(sum::DOUBLE / count) — Python's // floors while DuckDB's //
    truncates on negatives; the double division is exact at these
    magnitudes (see the operator docstring's bound argument)."""
    def assign(src: str, cents: str) -> str:
        return f"""(SELECT id, cid AS cluster FROM (
    SELECT s.id, ct.cid, row_number() OVER (PARTITION BY s.id ORDER BY
      list_sum(list_transform(range(1, {dim + 1}),
        i -> (s.qv[i] - ct.cv[i]) * (s.qv[i] - ct.cv[i]))) ASC,
      ct.cid ASC) AS rn
    FROM {src} s CROSS JOIN {cents} ct) WHERE rn = 1)"""

    def update(a: str, prev: str) -> str:
        return f"""(SELECT p.cid, CASE WHEN u.cv IS NULL THEN p.cv
                       ELSE u.cv END AS cv
  FROM {prev} p LEFT JOIN (
    SELECT cid, list(val ORDER BY pos) AS cv FROM (
      SELECT a.cluster AS cid, d.i AS pos,
             CAST(floor(sum(s.qv[d.i])::DOUBLE / count(*)) AS BIGINT) AS val
      FROM {a} a JOIN e s ON s.id = a.id
      CROSS JOIN unnest(range(1, {dim + 1})) AS d(i)
      GROUP BY a.cluster, d.i) GROUP BY cid) u USING (cid))"""

    ctes = [f"""e AS (SELECT vec_id AS id,
    list_transform(embedding::DOUBLE[],
        x -> CAST(floor(x * 1000000 + 0.5) AS BIGINT)) AS qv
  FROM embeddings)""",
            f"c0 AS (SELECT id::BIGINT AS cid, qv AS cv FROM e WHERE id < {k})"]
    for r in range(1, iters + 1):
        ctes.append(f"a{r} AS {assign('e', f'c{r - 1}')}")
        ctes.append(f"c{r} AS {update(f'a{r}', f'c{r - 1}')}")
    ctes.append(f"af AS {assign('e', f'c{iters}')}")
    joined = ",\n".join(ctes)
    return f"""
WITH {joined}
SELECT af.cluster::BIGINT AS cluster,
  count(*)::BIGINT AS n_members,
  sum(af.id)::BIGINT AS sum_ids,
  c.cv[1]::BIGINT AS c0,
  md5(array_to_string(list_transform(c.cv, x -> x::VARCHAR), ','))
    AS centroid_md5
FROM af JOIN c{iters} c ON c.cid = af.cluster
GROUP BY af.cluster, c.cv
"""


@query(oracle=_kmeans_sql())
def q_kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed Lloyd k-means TRAINING (operators/kmeans.py): 3
    integer-exact iterations over the embeddings table, per-cluster
    member counts + the final centroid pinned by value (c0 + md5 of the
    full int64 vector).  The oracle unrolls all three assign/update
    rounds plus the final assignment as CTEs — the PageRank/BPE pattern
    for iterative trainers."""
    from doctor_spark.operators.kmeans import kmeans_clusters

    return kmeans_clusters(_emb(spark, sf_dir))
