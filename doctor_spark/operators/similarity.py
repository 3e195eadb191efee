"""Similarity search over embedding columns (array<float>).

- brute-force cosine top-k: exact baseline — broadcast the (small) query
  set against all candidates; dot product via zip_with/aggregate in double
  (JVM-side, codegen'd; no Python)
- LSH-bucketed ANN: sign-random-projection buckets from deterministic
  md5-seeded hyperplane hashes — the scale path: candidates meet only
  inside a bucket, turning the N×Q cross product into a keyed join
"""

from __future__ import annotations

import pandas as pd  # noqa: F401 — pandas_udf type hints resolve by name
from pyspark.sql import DataFrame, Window, functions as F

from ..session import pin
from .hamming import band_pairs


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, v: acc + v
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, v: acc + v)
    )


def cosine_sim(a, b):
    """Cosine similarity of two array columns, computed in double with a
    fixed sequential fold (bit-identical to the DuckDB oracle's mirror)."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def brute_force_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Exact top-k cosine neighbors for each query id (neighbors drawn from
    the non-query rows).  Columns: query_id, neighbor_id, score, rank.

    The query side is a handful of rows → broadcast hash join, single pass
    over candidates, per-query top-k via window."""
    vec_d = F.col(vec_col).cast("array<double>")
    queries = (
        df.where(F.col(id_col).isin(query_ids))
        .select(F.col(id_col).alias("query_id"), vec_d.alias("qv"))
    )
    candidates = df.where(~F.col(id_col).isin(query_ids)).select(
        F.col(id_col).alias("neighbor_id"), vec_d.alias("cv")
    )
    scored = candidates.crossJoin(F.broadcast(queries)).select(
        "query_id",
        "neighbor_id",
        F.round(cosine_sim(F.col("qv"), F.col("cv")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def _hyperplane(dim: int, plane_no: int) -> list[float]:
    """Deterministic pseudo-random hyperplane: component j from the md5 of
    (plane_no, j) — reproducible across runs/engines with no RNG state."""
    import hashlib

    comps = []
    for j in range(dim):
        h = hashlib.md5(f"plane{plane_no}:{j}".encode()).hexdigest()
        comps.append((int(h[:15], 16) / float(16 ** 15)) * 2.0 - 1.0)
    return comps


def _lsh_buckets_udf(dim: int, n_planes: int, n_tables: int):
    """Arrow-batched bucket signatures for all OR tables at once.

    Bit-identical to the DuckDB oracle's ``list_sum``
    (``queries/similarity.py::_bucket_expr``): the dot products
    accumulate vectorized over ROWS but sequentially over COMPONENTS
    (the same IEEE add order as the oracle's fold), so the sign of every
    plane dot matches exactly.  ~100× an interpreted higher-order
    Catalyst fold (measured 5.1 s → sub-s at sf0.1; those exprs don't
    codegen)."""
    import numpy as np

    planes = np.array(
        [
            _hyperplane(dim, t * 1000 + p)
            for t in range(n_tables)
            for p in range(n_planes)
        ],
        dtype=np.float64,
    )  # (n_tables*n_planes, dim)
    weights = np.array(
        [1 << p for p in range(n_planes)], dtype=np.int64
    )

    @F.pandas_udf("array<bigint>")
    def buckets(vecs: pd.Series) -> pd.Series:
        import numpy as np

        # NULL / ragged embeddings must degrade per ROW (empty bucket
        # list → posexplode emits nothing, matching the oracle's NULL
        # exclusion), never fail the task
        rows = []
        valid = []
        for v in vecs:
            arr = None if v is None else np.asarray(v, dtype=np.float64)
            ok = arr is not None and arr.shape == (dim,) and np.isfinite(arr).all()
            valid.append(ok)
            rows.append(arr if ok else np.zeros(dim))
        if not rows:
            return pd.Series([], dtype=object)
        mat = np.array(rows)  # (n, dim)
        n = mat.shape[0]
        accs = np.zeros((n, planes.shape[0]), dtype=np.float64)
        for j in range(dim):  # sequential over components: fold order
            accs += mat[:, j : j + 1] * planes[:, j]
        bits = (accs >= 0).astype(np.int64)
        out = np.empty((n, n_tables), dtype=np.int64)
        for t in range(n_tables):
            out[:, t] = bits[:, t * n_planes : (t + 1) * n_planes] @ weights
        return pd.Series(
            [list(row) if ok else [] for row, ok in zip(out, valid)]
        )

    return buckets


def stacked_lsh_buckets(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, table_no, bucket) — every row's bucket in each OR table,
    stacked and repartitioned on (table_no, bucket), so every downstream
    self-join becomes a ReusedExchange of ONE signature evaluation."""
    buckets_udf = _lsh_buckets_udf(dim, n_planes, n_tables)
    stacked = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(buckets_udf(F.col(vec_col).cast("array<double>")))
        .alias("table_no", "bucket"),
    )
    return stacked.repartition(F.col("table_no"), F.col("bucket"))


def lsh_candidate_pairs(
    df: DataFrame,
    dim: int,
    n_planes: int = 4,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Same-bucket candidate pairs (id_a < id_b) across ``n_tables``
    OR-amplified sign-projection tables — the keyed-join replacement for an
    all-pairs crossJoin.  One self-join on (table_no, bucket): pair
    generation is linear in bucket occupancy, not quadratic in corpus
    size, and the bucket signatures are computed once (ReusedExchange)."""
    stacked = stacked_lsh_buckets(df, dim, n_planes, n_tables, id_col, vec_col)
    return band_pairs(stacked, ["table_no", "bucket"]).distinct()


def embedding_neardup_pairs(
    df: DataFrame,
    threshold: float = 0.35,
    dim: int = 64,
    n_planes: int = 4,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Embedding-cosine near-duplicate pairs, LSH-bucketed: candidates are
    same-bucket pairs (never an all-pairs product), rescored with exact
    cosine and filtered at ``threshold``.  Columns: id_a, id_b, cos_sim.

    The hyperplanes are deterministic md5 seeds, so an exact SQL oracle
    can enumerate the same buckets."""
    cands = lsh_candidate_pairs(df, dim, n_planes, n_tables, id_col, vec_col)
    vec_d = F.col(vec_col).cast("array<double>")
    a = df.select(F.col(id_col).alias("id_a"), vec_d.alias("va"))
    b = df.select(F.col(id_col).alias("id_b"), vec_d.alias("vb"))
    cos_udf = _cosine_pairs_udf(dim)
    return (
        cands.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a", "id_b",
            # Arrow kernel for the raw cosine (one interpreted 64-dim fold
            # per pair costs ~ms); rounding stays Spark-side so the
            # F.round/DuckDB-round agreement is untouched
            F.round(cos_udf(F.col("va"), F.col("vb")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )


def _cosine_pairs_udf(dim: int):
    """Arrow-batched raw cosine over pair rows — vectorized across pairs,
    sequential over components (bit-identical operands to the JVM fold and
    the oracle's list_sum).

    ``dim`` is the caller's declared vector dimension: each row is
    validated against it independently, so a ragged/wrong-dim row degrades
    only itself.  (Inferring the shape from the first non-null row of each
    Arrow batch made every well-formed pair in a batch score NaN whenever
    a ragged row happened to arrive first — output depended on batch
    boundaries rather than row content.)"""

    @F.pandas_udf("double")
    def cos(va: pd.Series, vb: pd.Series) -> pd.Series:
        import numpy as np

        def clean(series):
            rows, valid = [], []
            for v in series:
                arr = None if v is None else np.asarray(v, dtype=np.float64)
                ok = arr is not None and arr.shape == (dim,)
                valid.append(ok)
                rows.append(arr if ok else None)
            return rows, valid

        ra, va_ok = clean(va)
        rb, vb_ok = clean(vb)
        n = len(ra)
        if n == 0:
            return pd.Series([], dtype=float)
        zero = np.zeros(dim) if dim else None
        ok = np.array([
            x and y for x, y in zip(va_ok, vb_ok)
        ])
        if dim == 0 or not ok.any():
            return pd.Series([float("nan")] * n)
        a = np.array([r if (r is not None and len(r) == dim) else zero for r in ra])
        b = np.array([r if (r is not None and len(r) == dim) else zero for r in rb])
        dot = np.zeros(n)
        na = np.zeros(n)
        nb = np.zeros(n)
        for j in range(dim):  # fold order
            dot += a[:, j] * b[:, j]
            na += a[:, j] * a[:, j]
            nb += b[:, j] * b[:, j]
        with np.errstate(divide="ignore", invalid="ignore"):
            out = dot / (np.sqrt(na) * np.sqrt(nb))
        out[~ok] = float("nan")  # NaN fails the >= threshold, like the
        return pd.Series(out)     # oracle's NULL-row exclusion

    # non-deterministic for the optimizer only (as on containment_est's
    # signature UDF): otherwise the threshold filter and the projection
    # each evaluate cos(va, vb), in two Python nodes
    return cos.asNondeterministic()


def _ivf_centroids(df, n_centroids: int, id_col: str, vec_col: str):
    """Deterministic coarse quantizer: centroids are the embeddings of the
    ``n_centroids`` smallest ids (IVF-flat with sampled centers — no
    iterative k-means, so runs are reproducible with no RNG state)."""
    import numpy as np

    rows = (
        df.orderBy(id_col).limit(n_centroids)
        .select(F.col(vec_col).cast("array<double>").alias("v"))
        .collect()
    )
    mat = np.array([r.v for r in rows], dtype=np.float64)
    return mat / np.linalg.norm(mat, axis=1, keepdims=True)


def _ivf_assign_udf(centroids):
    """Arrow-batched bucket assignment: argmax cosine against the (tiny,
    closure-captured) centroid matrix — one numpy matmul per batch."""
    import numpy as np

    @F.pandas_udf("int")
    def assign(vecs: pd.Series) -> pd.Series:
        dim = centroids.shape[1]
        rows, valid = [], []
        for v in vecs:
            arr = None if v is None else np.asarray(v, dtype=np.float64)
            ok = (arr is not None and arr.shape == (dim,)
                  and np.isfinite(arr).all() and np.linalg.norm(arr) > 0)
            valid.append(ok)
            rows.append(arr if ok else np.ones(dim))
        if not rows:
            return pd.Series([], dtype="Int32")
        mat = np.array(rows)
        mat = mat / np.linalg.norm(mat, axis=1, keepdims=True)
        # round before argmax: numpy's pairwise summation and a SQL
        # engine's sequential fold differ at ~1e-16; rounding makes the
        # argmax (first-max tiebreak) reproducible cross-engine
        sims = np.round(mat @ centroids.T, 12)
        out = pd.Series(np.argmax(sims, axis=1)).astype("Int32")
        out[~pd.Series(valid)] = None  # NULL bucket never joins a probe
        return out

    # non-deterministic for the optimizer only (as on containment_est's
    # signature UDF): otherwise the join key's inferred isnotnull filter
    # clones assign(embedding) into a second Python node
    return assign.asNondeterministic()


def ivf_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    k: int = 3,
    n_centroids: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """IVF-flat approximate top-k: candidates assigned to their nearest
    centroid's inverted list; each query probes its ``nprobe`` nearest
    lists; exact cosine inside.  Columns: query_id, neighbor_id, score,
    rank.

    Scale shape: centroid matrix is broadcast (KB), assignment is one
    vectorized matmul per Arrow batch, and the probe join is a keyed
    equi-join on the bucket id — the N×Q cross product never materializes.
    """
    import numpy as np

    cents = _ivf_centroids(df, n_centroids, id_col, vec_col)
    assign = _ivf_assign_udf(cents)
    is_query = F.col(id_col).isin(query_ids)

    candidates = df.where(~is_query).select(
        F.col(id_col).alias("neighbor_id"),
        F.col(vec_col).cast("array<double>").alias("cv"),
        assign(F.col(vec_col)).alias("bucket"),
    )

    # queries: nprobe nearest centroid buckets, computed on the driver
    # (the query set is small by contract)
    qrows = df.where(is_query).select(
        F.col(id_col).alias("query_id"),
        F.col(vec_col).cast("array<double>").alias("qv"),
    ).collect()
    probe_rows = []
    for r in qrows:
        qv = np.asarray(r.qv, dtype=np.float64)
        # round + stable sort: reproducible probe choice cross-engine
        sims = np.round((qv / np.linalg.norm(qv)) @ cents.T, 12)
        for b in np.argsort(-sims, kind="stable")[:nprobe]:
            probe_rows.append((r.query_id, int(b), [float(x) for x in r.qv]))
    spark = df.sparkSession
    probes = spark.createDataFrame(
        probe_rows, "query_id long, bucket int, qv array<double>"
    )

    scored = candidates.join(F.broadcast(probes), "bucket").select(
        "query_id",
        "neighbor_id",
        F.round(cosine_sim(F.col("qv"), F.col("cv")), 4).alias("score"),
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_ann_topk(
    df: DataFrame,
    query_ids: list[int],
    dim: int,
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Approximate top-k: exact cosine, but only among candidates sharing a
    bucket with the query in at least one of ``n_tables`` independent LSH
    tables (standard OR-amplified sign-random-projection).

    Columns: query_id, neighbor_id, score, rank.  At scale, each table join
    is a keyed equi-join on the bucket id — the N×Q cross product never
    materializes."""
    stacked = stacked_lsh_buckets(df, dim, n_planes, n_tables, id_col, vec_col)
    vec_d = F.col(vec_col).cast("array<double>")
    is_query = F.col(id_col).isin(query_ids)

    q_side = stacked.where(F.col("id").isin(query_ids)).select(
        "table_no", "bucket", F.col("id").alias("query_id")
    )
    c_side = stacked.where(~F.col("id").isin(query_ids)).select(
        "table_no", "bucket", F.col("id").alias("neighbor_id")
    )
    pair_union = (
        c_side.join(F.broadcast(q_side), ["table_no", "bucket"])
        .select("query_id", "neighbor_id")
        .distinct()
    )

    qv = df.where(is_query).select(
        F.col(id_col).alias("query_id"), vec_d.alias("qv")
    )
    cv = df.where(~is_query).select(
        F.col(id_col).alias("neighbor_id"), vec_d.alias("cv")
    )
    scored = (
        pair_union.join(F.broadcast(qv), "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cosine_sim(F.col("qv"), F.col("cv")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def lsh_ann_corpus_topk(
    df: DataFrame,
    dim: int,
    k: int = 3,
    n_planes: int = 4,
    n_tables: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Corpus-vs-corpus ANN: top-k neighbors for EVERY vector, candidates
    = same-bucket rows in any of ``n_tables`` OR-amplified tables.

    The broadcast-queries form (``lsh_ann_topk``) is right when the query
    set is small; when "queries = the whole corpus" the broadcast would
    ship the corpus to every executor.  This form is the scale shape:

    - the undirected pairs of :func:`lsh_candidate_pairs` (ONE bucket
      exchange, self-joined), mirrored to directed pairs (query_id ≠
      neighbor_id), linear in bucket occupancy;
    - vectors attached by keyed joins (no broadcast anywhere);
    - exact cosine rescore in the Arrow pair kernel (bit-identical to the
      JVM fold / SQL oracle);
    - per-query top-k via one window on query_id.

    Columns: query_id, neighbor_id, score, rank."""
    # dedupe UNDIRECTED pairs (half the distinct's shuffle volume), then
    # mirror map-side: the candidate relation is symmetric
    undirected = lsh_candidate_pairs(
        df, dim, n_planes, n_tables, id_col, vec_col
    ).select(
        F.col("id_a").alias("query_id"), F.col("id_b").alias("neighbor_id")
    )
    pairs = undirected.unionByName(
        undirected.select(
            F.col("neighbor_id").alias("query_id"),
            F.col("query_id").alias("neighbor_id"),
        )
    )
    vec_d = F.col(vec_col).cast("array<double>")
    qv = df.select(F.col(id_col).alias("query_id"), vec_d.alias("va"))
    cv = df.select(F.col(id_col).alias("neighbor_id"), vec_d.alias("vb"))
    cos_udf = _cosine_pairs_udf(dim)
    scored = (
        pairs.join(qv, "query_id")
        .join(cv, "neighbor_id")
        .select(
            "query_id",
            "neighbor_id",
            F.round(cos_udf(F.col("va"), F.col("vb")), 4).alias("score"),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= k)
    )


def semdedup(
    df: DataFrame,
    n_clusters: int = 16,
    threshold: float = 0.35,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """SemDeDup-style semantic dedup (Abbas et al. 2023, arXiv:2303.09540):
    cluster the embedding space with a deterministic coarse quantizer,
    then inside each cluster drop every item that has a smaller-id
    neighbor with cosine ≥ ``threshold`` (keep-first, the greedy the
    paper uses with random tie order — made deterministic here by id).

    Columns: id, cluster, kept.

    Scale shape: the centroid matrix is KBs (broadcast in the Arrow
    assignment kernel, same contract as IVF), assignment is map-only,
    and the only exchange hashes on the cluster id — both join sides
    derive from the same assigned frame, so the second side is a
    ReusedExchange.  Within-cluster pairing is quadratic in cluster
    size by construction (that IS SemDeDup); at crawl scale you grow
    ``n_clusters`` proportionally to hold the per-cluster population
    constant — the paper runs 50k clusters for LAION-scale — and a
    skewed hot cluster is bounded by the same frequency-cap discipline
    the MinHash band join uses."""
    cents = _ivf_centroids(df, n_clusters, id_col, vec_col)
    assign = _ivf_assign_udf(cents)
    # ONE assignment pass, hash-partitioned on the cluster id and
    # materialized with ``pin`` (the ExactSubstr/LM
    # convention for a frame consumed by several branches).  Without it
    # Catalyst re-evaluates the Arrow kernel once per consumer and per
    # pushed null-key filter (6 evaluations observed), and exchange
    # reuse never fires because PythonUDF subtrees don't canonicalize
    # equal.  After the pin the partitioning survives in the
    # plan, so the within-cluster self-join needs NO further exchange
    # and the small-looking side can't be broadcast (plan-pinned in
    # test_plans.py with the broadcast threshold disabled).  Contract:
    # a vector the quantizer can't place (null/ragged/zero-norm) has no
    # row in the decision table — absent means "kept, never compared".
    clustered = pin(
        df.select(
            F.col(id_col).alias("id"),
            F.col(vec_col).cast("array<double>").alias("v"),
            assign(F.col(vec_col)).alias("cluster"),
        )
        .where(F.col("cluster").isNotNull())
        .repartition(F.col("cluster"))
    )
    cos_udf = _cosine_pairs_udf(dim)
    pairs = (
        band_pairs(clustered, ["cluster"], ["v"])
        .select(
            "id_b",
            F.round(cos_udf(F.col("v_a"), F.col("v_b")), 4).alias("cos_sim"),
        )
        .where(F.col("cos_sim") >= threshold)
    )
    removed = pairs.select(F.col("id_b").alias("id")).distinct()
    return (
        clustered.join(
            removed.withColumn("rm", F.lit(True)), "id", "left"
        )
        .select("id", "cluster", F.col("rm").isNull().alias("kept"))
    )
