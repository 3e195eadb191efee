"""Distributed k-means (Lloyd) TRAINING with integer-exact arithmetic.

The trainable upgrade of the IVF/SemDeDup sampled-centers quantizer
(similarity.py:293 keeps the smallest-ids contract for the ANN plumbing;
this module trains real centroids).  Every quantity is int64 so the
ITERATIVE trainer is bit-identical cross-engine and gets an exact
unrolled-CTE oracle, the same pattern as PageRank and the BPE trainer:

- embeddings quantize once: ``floor(x * 1e6 + 0.5)`` per dim (float32 →
  double is exact; the multiply/floor are the same IEEE ops on both
  engines);
- assignment: integer squared-L2 (diffs ≤ 2e6, squares ≤ 4e12, ×64 dims
  ≤ 2.6e14 — comfortably int64), tie-break (dist ASC, cid ASC);
- update: per-dim ``floor(sum / count)``.  Python ``//`` floors; the
  oracle mirrors with ``floor(sum::DOUBLE / count)`` — NOT DuckDB's
  ``//``, which truncates toward zero on negatives.  The double division
  is exact here: |sum| ≤ 5e8 and count ≤ 5e5 are exact in double, and a
  non-integer true quotient is ≥ 1/count ≥ 2e-6 away from any integer,
  far above double epsilon at this magnitude — so floor never flips;
- empty clusters keep their previous centroid.

Scale shape: the corpus-side work per iteration is ONE keyed exchange
(posexplode → groupBy(cluster, pos), 64·k cells map-side combined); the
centroid matrix (k×64 int64, KBs) is collected per round under the same
bounded-by-contract rule as the IVF centroids, and assignment is pure
codegen'd Column arithmetic — no Python in the corpus path at all.
"""

from __future__ import annotations

import hashlib

from pyspark.sql import DataFrame, functions as F

from ..micro import MICRO
from ..session import pin


def _quantized(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    qv = F.transform(
        F.col(vec_col).cast("array<double>"),
        lambda x: F.floor(x * MICRO + F.lit(0.5)).cast("long"),
    )
    # pinned: quantize exactly once (Catalyst would otherwise
    # re-evaluate the transform under every iteration's plan — the
    # semdedup lesson, similarity.py)
    return pin(df.select(F.col(id_col).alias("id"), qv.alias("qv")))


def _assign(q: DataFrame, centroids: list[list[int]]) -> DataFrame:
    dists = F.array(*[
        F.aggregate(
            F.zip_with("qv", F.lit(c), lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, v: acc + v,
        )
        for c in centroids
    ])
    # array_position returns the FIRST match -> ties break to smallest cid
    return q.withColumn(
        "cluster", (F.array_position(dists, F.array_min(dists)) - 1
                    ).cast("long")
    )


def kmeans_train(df: DataFrame, k: int = 8, iters: int = 3,
                 id_col: str = "vec_id", vec_col: str = "embedding",
                 ) -> tuple[DataFrame, list[list[int]]]:
    """Run ``iters`` Lloyd rounds; return (final assignment DataFrame with
    columns (id, cluster), final centroid matrix).  Init: the quantized
    embeddings of the ``k`` smallest ids (deterministic, shared with the
    IVF contract)."""
    q = _quantized(df, id_col, vec_col)
    centroids = [
        [int(v) for v in r["qv"]]
        for r in q.where(F.col("id") < k).orderBy("id").collect()
    ]
    for _ in range(iters):
        assigned = _assign(q, centroids)
        sums = (
            assigned.select("cluster", F.posexplode("qv"))
            .groupBy("cluster", "pos")
            .agg(F.sum("col").alias("s"), F.count("*").alias("n"))
            .collect()
        )
        by_cluster: dict[int, dict[int, tuple[int, int]]] = {}
        for r in sums:
            by_cluster.setdefault(int(r["cluster"]), {})[int(r["pos"])] = (
                int(r["s"]), int(r["n"]))
        centroids = [
            [by_cluster[c][p][0] // by_cluster[c][p][1]
             for p in range(len(centroids[0]))]
            if c in by_cluster else centroids[c]
            for c in range(k)
        ]
    return _assign(q, centroids).select("id", "cluster"), centroids


def kmeans_clusters(df: DataFrame, k: int = 8, iters: int = 3,
                    id_col: str = "vec_id", vec_col: str = "embedding",
                    ) -> DataFrame:
    """Per-cluster training summary: member count, id checksum, and the
    final centroid pinned by value (first dim + md5 of the full int64
    vector) so the oracle can fail on ANY drifted dimension."""
    assigned, centroids = kmeans_train(df, k, iters, id_col, vec_col)
    spark = df.sparkSession
    cent_rows = [
        (c, centroids[c][0],
         hashlib.md5(",".join(str(v) for v in centroids[c])
                     .encode()).hexdigest())
        for c in range(k)
    ]
    cents = spark.createDataFrame(
        cent_rows, "cluster long, c0 long, centroid_md5 string")
    agg = assigned.groupBy("cluster").agg(
        F.count("*").cast("long").alias("n_members"),
        F.sum("id").cast("long").alias("sum_ids"),
    )
    return agg.join(F.broadcast(cents), "cluster").select(
        "cluster", "n_members", "sum_ids", "c0", "centroid_md5")
