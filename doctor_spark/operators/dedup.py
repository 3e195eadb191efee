"""Deduplication operators for training-data pipelines.

All four families from the task brief:

- exact:            md5-of-normalized-text groupBy
- MinHash + LSH:    k min-hashes over 3-gram shingles → bands → bucket
                    self-join
- SimHash:          per-token hash bits majority-voted into a signature,
                    Hamming-banded self-join
- n-gram Jaccard:   3-token shingles, shingle-inverted-index join, exact
                    Jaccard on candidate pairs

Signatures and shingles come from row-wise Arrow UDF kernels where
the equivalent higher-order Catalyst expression would run interpreted
(each kernel is pinned bit-identical to its expression form or to the
DuckDB oracle); everything on the pair stream — joins, set algebra,
rescoring — is built-in JVM expressions.

Scale notes: every candidate-pair generator is the keyed band self-join
:func:`..operators.hamming.band_pairs` on a hash key (band/bucket/shingle),
so the shuffle is keyed and AQE-skew-splittable; the quadratic blow-up of
pairwise comparison is bounded to same-bucket candidates, which is the
point of MinHash-LSH at 10^12 rows.  ``containment_est_pairs`` is the one
band join outside it (a conditional join with no exchange of its own).
"""

from __future__ import annotations

import hashlib
from functools import lru_cache

from pyspark.sql import DataFrame, Observation, functions as F

from ..arrow import row_udf
from ..functions.text import fingerprint, tokens
from ..session import pin
from .hamming import band_pairs, banded_hamming_pairs

DEFAULT_SEEDS = ("s0", "s1", "s2", "s3")

# mirror the JVM tokens() path exactly: trim ASCII spaces, split on Java \s
# ([ \t\n\x0b\f\r]) — python str.split() would also split on NBSP/U+2009
# etc and diverge from the oracle
_JAVA_WS = __import__("re").compile(r"[ \t\n\x0b\f\r]+")


def _md5_60(s: str) -> int:
    """The 60-bit md5 prefix ``int(md5(s)[:15 hex], 16)`` — DuckDB's
    ``('0x' || substr(md5(s), 1, 15))::BIGINT``."""
    return int.from_bytes(hashlib.md5(s.encode("utf-8")).digest()[:8], "big") >> 4


@lru_cache(maxsize=1 << 16)
def _token_hash60(t: str) -> int:
    """:func:`_md5_60` memoized for tokens (vocabulary repeats across
    documents; bounded so a task's memory does not grow with it)."""
    return _md5_60(t)


def _java_ws_tokens(text: str) -> list[str]:
    # trailing empty tokens are KEPT: Spark's F.split uses limit -1 (Java
    # split(regex, -1) keeps trailing empties) and DuckDB's
    # regexp_split_to_array does too — a doc ending in '\n' tokenizes to
    # [..., ''] on all three engines
    return _JAVA_WS.split(text.strip(" ").lower())


def exact_duplicate_groups(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Hash-groupBy exact dedup: groups with >1 member, keeper = min id.

    Columns: text_hash, n_dups, keep_id."""
    return (
        df.select(F.col(id_col), fingerprint(F.col(text_col)).alias("text_hash"))
        .groupBy("text_hash")
        .agg(
            F.count("*").alias("n_dups"),
            F.min(id_col).alias("keep_id"),
        )
        .where(F.col("n_dups") > 1)
    )


def dedup_stats(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """One-row summary: n_total, n_unique (distinct fingerprints)."""
    return df.select(
        F.count("*").alias("n_total"),
        F.countDistinct(fingerprint(F.col(text_col))).alias("n_unique"),
    )


def with_minhash(
    df: DataFrame,
    text_col: str = "text",
    seeds: tuple[str, ...] = DEFAULT_SEEDS,
    shingle_n: int = 3,
) -> DataFrame:
    """k seeded min-hashes over the ``shingle_n``-gram shingle set:
    mh_i = min(md5(seed_i || shingle)).

    Shingles (not unigram tokens) are the textbook MinHash unit: over a
    small vocabulary every document shares most unigrams, so token-level
    signatures collide for everything (observed: ~all-pairs candidates at
    sf0.1).  String-min over hex digests — portable bit-for-bit to any
    engine with md5 (the DuckDB oracle mirrors it exactly).

    Documents with fewer than ``shingle_n`` tokens get NULL signatures and
    never band-join (filtered downstream)."""
    sh = shingles(F.col(text_col), shingle_n)
    out = df
    for i, seed in enumerate(seeds):
        # closure factory: a 2-parameter lambda would be treated by
        # F.transform as (element, index) and silently swallow the seed
        def seeded(s):
            return lambda t: F.md5(F.concat(F.lit(s), t))

        out = out.withColumn(
            f"mh{i}", F.array_min(F.transform(sh, seeded(seed)))
        )
    return out


def minhash_band_keys(
    df: DataFrame,
    text_col: str = "text",
    seeds: tuple[str, ...] = DEFAULT_SEEDS,
    rows_per_band: int = 2,
) -> DataFrame:
    """Adds band_0..band_{b-1}: md5 of the concatenated row hashes."""
    out = with_minhash(df, text_col, seeds)
    n_bands = len(seeds) // rows_per_band
    for b in range(n_bands):
        cols = [F.col(f"mh{b * rows_per_band + r}") for r in range(rows_per_band)]
        # NULL signatures (sub-shingle-length docs) must yield NULL band
        # keys: concat_ws silently drops NULLs, which would collide every
        # short document into the shared md5('') bucket (k² false pairs)
        out = out.withColumn(
            f"band_{b}",
            F.when(
                cols[0].isNull(), F.lit(None).cast("string")
            ).otherwise(F.md5(F.concat_ws("|", *cols).cast("binary"))),
        )
    return out


def _minhash_bands_udf(seeds: tuple[str, ...], rows_per_band: int, n: int = 3):
    """Arrow-batched band-key kernel: tokens → 3-gram shingle set → seeded
    min-md5 signatures → per-band md5 keys.  Docs with < n tokens return an
    empty list (posexplode then emits no rows, matching the oracle's
    WHERE len(tokens) >= n)."""
    n_bands = len(seeds) // rows_per_band

    def _md5(s: str) -> str:
        return hashlib.md5(s.encode("utf-8")).hexdigest()

    def bands(text):
        toks = _java_ws_tokens(text or "")
        if len(toks) < n:
            return []
        sh = {" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1)}
        mh = [min(_md5(seed + s) for s in sh) for seed in seeds]
        return [
            _md5("|".join(mh[b * rows_per_band : (b + 1) * rows_per_band]))
            for b in range(n_bands)
        ]

    return row_udf(bands, "array<string>")


def _affine_params(n_perms: int) -> tuple[list[int], list[int]]:
    """Deterministic (a_i, b_i) for the universal-hash permutation family,
    derived from md5 so any engine can reproduce them.  a < 2^30 and odd,
    b < 2^32: products stay under 2^62, so int64/BIGINT arithmetic is
    exact on numpy AND DuckDB (no overflow, no float rounding)."""
    import hashlib

    a = [
        (int(hashlib.md5(f"a{i}".encode()).hexdigest()[:8], 16)
         & 0x3FFFFFFF) | 1
        for i in range(n_perms)
    ]
    b = [
        int(hashlib.md5(f"b{i}".encode()).hexdigest()[:8], 16)
        for i in range(n_perms)
    ]
    return a, b


def _affine_mins_chunked(h32, a, b, max_elems: int = 4_000_000):
    """Per-permutation minima of ``(a_i*h + b_i) mod 2^32`` over all
    shingle hashes, computed a bounded block of permutations at a time:
    the naive outer product materializes an (n_shingles x n_perms) int64
    matrix — ~100 MB transient for a 100k-shingle web document at width
    128 — risking executor memory pressure at scale (round-5 ADVICE
    item).  The chunk width adapts to the shingle count so the transient
    never exceeds ``max_elems`` int64s (32 MB): typical corpus documents
    (hundreds-to-thousands of shingles) take the whole width in ONE
    numpy call — a fixed chunk of 16 cost ~8 python/numpy dispatch
    rounds per document, measured ~35% of the width-128 kernel — while a
    pathological 200k-shingle document degrades to 20-perm blocks.
    Bit-identical results at any chunking (each permutation's min is
    independent)."""
    import numpy as np

    n_perms = a.shape[0]
    chunk = max(16, min(n_perms, max_elems // max(1, h32.shape[0])))
    mins = np.empty(n_perms, dtype=np.int64)
    for c0 in range(0, n_perms, chunk):
        c1 = min(c0 + chunk, n_perms)
        blk = ((h32[:, None] * a[None, c0:c1]) + b[None, c0:c1]) % 4294967296
        mins[c0:c1] = blk.min(axis=0)
    return mins


def _affine_minhash(text, a, b, n: int, rows_per_band: int):
    """One document's universal-hash MinHash: ``(n_sh, mins, bands)`` —
    the distinct ``n``-gram shingle count, the ``len(a)`` affine
    permutation minima of the shingles' 32-bit md5 prefixes, and the
    per-band md5 keys over the decimal-joined minima.  Documents with
    fewer than ``n`` tokens give ``(0, [], [])``."""
    import hashlib

    import numpy as np

    toks = _java_ws_tokens(text or "")
    if len(toks) < n:
        return 0, [], []
    sh = {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}
    h32 = np.fromiter(
        (int(hashlib.md5(s.encode("utf-8")).hexdigest()[:8], 16) for s in sh),
        dtype=np.int64, count=len(sh),
    )
    mins = _affine_mins_chunked(h32, a, b)
    bands = [
        hashlib.md5(
            "|".join(
                str(int(v))
                for v in mins[bi * rows_per_band:(bi + 1) * rows_per_band]
            ).encode("utf-8")
        ).hexdigest()
        for bi in range(len(mins) // rows_per_band)
    ]
    return len(sh), mins, bands


def _affine_arrays(n_perms: int):
    """:func:`_affine_params` as the int64 arrays the kernels take."""
    import numpy as np

    a, b = _affine_params(n_perms)
    return np.asarray(a, dtype=np.int64), np.asarray(b, dtype=np.int64)


def _minhash_bands_affine_udf(n_perms: int, rows_per_band: int, n: int = 3):
    """Production-width band kernel (the Lee-et-al./Dolma operating
    point): ONE md5 per shingle, then ``n_perms`` affine permutations
    ``(a_i*h + b_i) mod 2^32`` of its 32-bit prefix, numpy-vectorized
    (:func:`_affine_minhash`).  The md5-per-(seed,shingle) scheme the
    4-seed demo uses costs n_perms× more digests — measured 27.5 s vs
    ~2 s at sf0.1 for width 128.  Exactly mirrored in SQL:
    hex-prefix→BIGINT, affine mod, list min, decimal-string band join,
    md5."""
    a, b = _affine_arrays(n_perms)

    def bands(text):
        return _affine_minhash(text, a, b, n, rows_per_band)[2]

    return row_udf(bands, "array<string>")


def minhash_candidate_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seeds: tuple[str, ...] = DEFAULT_SEEDS,
    rows_per_band: int = 2,
    affine_perms: int | None = None,
) -> DataFrame:
    """LSH candidate pairs: ids sharing any band bucket (id_a < id_b).

    The band self-join is a keyed equi-join — at scale each bucket is tiny,
    so this avoids any pairwise cross product.

    ``affine_perms=k`` switches the signature to the universal-hash
    scheme (one md5 per shingle + k affine permutations; ``seeds`` is
    then ignored) — the production form for wide signatures, where the
    seeded-md5 scheme would pay k digests per shingle."""
    # Band keys via a row-wise Arrow UDF: the pure-builtin expression
    # (see with_minhash) is semantically identical but Catalyst evaluates
    # nested higher-order functions interpreted (no codegen, no CSE) at
    # ~1 ms/row; hashlib in an Arrow batch is ~100× faster and md5-of-utf8
    # is bit-identical across Spark / Python / DuckDB, so the oracle holds.
    if affine_perms is not None:
        bands_udf = _minhash_bands_affine_udf(affine_perms, rows_per_band)
    else:
        bands_udf = _minhash_bands_udf(seeds, rows_per_band)
    # Materialize the (tiny) banded table through ONE exchange and self-join
    # it; identical exchange subtrees on both sides become a ReusedExchange,
    # so signatures are computed exactly once per row.
    stacked = (
        df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__t"))
        .select("id", F.posexplode(bands_udf(F.col("__t"))).alias("band_no", "band_key"))
        .repartition(F.col("band_no"), F.col("band_key"))
    )
    return band_pairs(stacked, ["band_no", "band_key"]).distinct()


def _simhash_udf(bits: int):
    """Arrow-batched SimHash kernel, bit-identical to the expression form
    (same md5-of-UTF-8 per token, same ±1 bit votes, same low-``bits``
    signature).  The JVM expression evaluates its higher-order
    transform/aggregate/zip_with lambdas INTERPRETED — tokens × bits
    lambda steps per document (the ngram-engine finding), which at width
    48 was the whole wall of the w48 query.  numpy does the vote matrix
    in one shot per document, bounded to 64k-token blocks so a
    pathological 10M-token doc stays ~25 MB transient; the token→hash
    map is memoized in a bounded LRU (vocabulary repeats across
    documents)."""
    import numpy as np

    shift = np.arange(bits, dtype=np.int64)

    def sig(text):
        if text is None:
            return None
        toks = _java_ws_tokens(text)
        hs = np.fromiter(map(_token_hash60, toks), dtype=np.int64, count=len(toks))
        votes = np.zeros(bits, dtype=np.int64)
        for c0 in range(0, hs.shape[0], 65536):
            blk = hs[c0:c0 + 65536]
            votes += (2 * ((blk[:, None] >> shift[None, :]) & 1) - 1).sum(axis=0)
        return int(((votes >= 0).astype(np.int64) << shift).sum())

    # non-deterministic for the optimizer only (as on containment_est's
    # signature UDF): an inferred isnotnull filter on a column derived
    # from the signature otherwise clones the UDF below the spread
    # exchange, so the kernel ran twice, once on the single input split
    return row_udf(sig, "bigint").asNondeterministic()


def with_simhash(
    df: DataFrame, text_col: str = "text", bits: int = 16,
    engine: str = "expr",
) -> DataFrame:
    """SimHash signature: per-token 60-bit hash (hex→int of md5 prefix),
    each bit majority-voted over the token multiset; ``bits`` low bits kept.

    Engine choice is a measured split (round 6, sf0.1 interleaved
    min-of-3): for a SINGLE downstream reference the pure expression
    wins (0.43 s vs 0.75 s at w48 — no Arrow boundary, and Spark 4
    evaluates this shape acceptably), so it stays the default; when the
    signature is referenced by SEVERAL expressions (the band slices and
    the rescore of :func:`..operators.hamming.banded_hamming_pairs`, as
    :func:`simhash_near_pairs` uses it), projection collapse re-INLINES
    the whole simhash expression into every reference (the
    ``_shingle_structs_expr`` lesson) and the query pays ~n_bands
    signature evaluations — there the Arrow kernel (``engine="arrow"``,
    :func:`_simhash_udf`), which materializes ONCE in its ArrowEvalPython
    node, wins 1.65 s vs 1.95+ s.  The two engines give bit-identical
    signatures at 16 and 48 bits
    (tests/test_plans.py::test_simhash_engines_bit_identical runs both)."""
    if engine == "arrow":
        return df.withColumn("simhash", _simhash_udf(bits)(F.col(text_col)))
    toks = tokens(F.col(text_col))
    tok_hash = F.transform(
        toks,
        lambda t: F.conv(F.substring(F.md5(t.cast("binary")), 1, 15), 16, 10)
        .cast("bigint"),
    )
    # single pass over the token array: one md5 per token, all `bits` vote
    # counters updated in a zip_with — a per-bit aggregate would re-hash
    # every token `bits` times (higher-order exprs don't codegen or CSE;
    # observed 16× cost at sf0.1)
    masks = F.array(*[F.lit(2 ** b).cast("bigint") for b in range(bits)])
    votes = F.aggregate(
        tok_hash,
        F.array_repeat(F.lit(0), bits),
        lambda acc, h: F.zip_with(
            acc,
            masks,
            lambda a, m: a
            + F.when(h.bitwiseAND(m) != 0, 1).otherwise(-1),
        ),
    )
    sig = F.aggregate(
        F.zip_with(
            votes,
            masks,
            lambda v, m: F.when(v >= 0, m).otherwise(F.lit(0).cast("bigint")),
        ),
        F.lit(0).cast("bigint"),
        lambda acc, v: acc + v,
    )
    return df.withColumn("simhash", sig)


def _shingles_udf(n: int = 3, hashed: bool = False):
    """Arrow-batched distinct n-gram shingles, bit-identical to the JVM
    ``shingles()`` expression and the DuckDB oracle's list_transform.

    Returns struct<n_sh, sh> so both the set size and the explode source
    come from ONE UDF column — separate size()/explode() references would
    each get their own ArrowEvalPython evaluation.

    ``hashed``: emit the 60-bit md5 prefix of each shingle as int64
    (``int(md5(s)[:15 hex], 16)``, the same value DuckDB's
    ``('0x' || substr(md5(s), 1, 15))::BIGINT`` computes) instead of the
    string — 8-byte join keys for :func:`ngram_novelty`.  The pair
    joins hash in the JVM instead (:func:`_hashed_shingles`)."""

    def sh(text):
        toks = _java_ws_tokens(text or "")
        if len(toks) < n:
            return 0, []
        grams = (" ".join(toks[i : i + n]) for i in range(len(toks) - n + 1))
        seen = dict.fromkeys(map(_md5_60, grams) if hashed else grams)
        return len(seen), list(seen)

    return row_udf(sh, f"struct<n_sh: int, sh: array<{'long' if hashed else 'string'}>>")


def _shingle_structs_expr(col, n: int = 3):
    """Pure-JVM equivalent of :func:`_hashed_shingles`: distinct n-gram
    shingles as 60-bit md5 prefixes, packed as ``array<struct<n_sh,
    shingle>>`` so ONE explode yields both the set size and the element
    — no Python, no Arrow.

    The naive expression form (``F.size(sh)`` + ``F.explode(sh)`` over a
    projected ``sh``) re-inlines the whole shingling expression into BOTH
    references when Catalyst collapses the projections — the reason the
    Arrow kernel returns ``struct<n_sh, sh>``.  Here the distinct array
    is bound to a higher-order LAMBDA VARIABLE instead:
    ``transform(array(d), dd -> transform(dd, x -> struct(size(dd), x)))``
    evaluates ``d`` exactly once per row and references the bound ``dd``
    for free, giving the single-evaluation property in expression land.

    The hash is ``conv(substring(md5(s), 1, 15), 16, 10)``, the JVM
    form of ``int(md5_hex[:15], 16)``; n_sh counts DISTINCT HASHES (not
    strings), so the two only differ if two distinct shingles of one
    document collide in 60 bits."""
    toks = tokens(col)

    def elem(i):
        return F.conv(
            F.substring(F.md5(F.concat_ws(" ", F.slice(toks, i, n))), 1, 15),
            16,
            10,
        ).cast("long")

    raw = F.transform(F.sequence(F.lit(1), F.size(toks) - (n - 1)), elem)
    d = F.array_distinct(raw)
    packed = F.flatten(
        F.transform(
            F.array(d),
            lambda dd: F.transform(
                dd,
                lambda x: F.struct(
                    F.size(dd).alias("n_sh"), x.alias("shingle")
                ),
            ),
        )
    )
    return F.when(F.size(toks) >= n, packed).otherwise(
        F.array().cast("array<struct<n_sh:int,shingle:long>>")
    )


def simhash_near_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bits: int = 16,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate pairs by SimHash Hamming distance ≤ ``max_hamming``:
    the ``bits``-wide signature through the pigeonhole-complete band join
    :func:`..operators.hamming.banded_hamming_pairs` (``max_hamming <
    n_bands``, and ``n_bands`` must divide ``bits``).  The Arrow engine
    computes the signature once for all band slices and the rescore.

    Columns: id_a, id_b, hamming."""
    return banded_hamming_pairs(
        with_simhash(df, text_col, bits, engine="arrow"), max_hamming,
        n_bands, id_col=id_col, sig_col="simhash", bits=bits,
    )


def duplicate_components(
    pairs: DataFrame,
    max_iters: int = 20,
    id_a: str = "id_a",
    id_b: str = "id_b",
    stats: dict | None = None,
) -> DataFrame:
    """Connected components over candidate-duplicate pairs: every member
    of a duplicate cluster labeled with the cluster's smallest id (the
    canonical "keep one representative" step after MinHash/SimHash).

    Iterative min-label propagation with POINTER JUMPING: each round takes
    the min over (a) neighbors' labels and (b) the label of the node's own
    label (label[label[v]]) — the doubling step makes convergence
    logarithmic in component diameter, so a 2^20-long near-dup chain
    converges inside the default budget.  Each round is two keyed
    shuffles; ``pin`` cuts the lineage so plans don't grow.
    The convergence check piggybacks on the pin's action via
    ``Observation`` (an ``observe()`` on the pinned frame), so each
    round is ONE Spark job — no separate driver ``count()`` whose
    job-scheduling tail would add up at 10^9-edge graphs.  Raises if the
    budget is exhausted before convergence — silently returning
    unconverged labels would split clusters and break the exact oracle.

    Columns: doc_id, component_id."""
    edges = pin(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionAll(pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
    )
    labels = pin(
        edges.select(F.col("src").alias("doc_id"))
        .distinct()
        .withColumn("component_id", F.col("doc_id"))
    )
    for it in range(max_iters):
        neighbor_min = (
            edges.join(labels, edges.dst == labels.doc_id)
            .groupBy("src")
            .agg(F.min("component_id").alias("nbr_min"))
        )
        # pointer jump: label of my current label
        parents = labels.select(
            F.col("doc_id").alias("p_id"), F.col("component_id").alias("p_lbl")
        )
        hop = (
            labels.join(neighbor_min, labels.doc_id == neighbor_min.src, "left")
            .select(
                "doc_id",
                "component_id",
                F.coalesce(F.col("nbr_min"), F.col("component_id")).alias("nm"),
            )
        )
        obs = Observation(f"cc_round_{it}")
        updated = pin(
            hop.join(parents, hop.component_id == parents.p_id, "left")
            .select(
                "doc_id",
                F.least(
                    F.col("component_id"),
                    F.col("nm"),
                    F.coalesce(F.col("p_lbl"), F.col("component_id")),
                ).alias("new_id"),
                F.col("component_id").alias("old_id"),
            )
            .select(
                "doc_id",
                F.col("new_id").alias("component_id"),
                (F.col("new_id") < F.col("old_id")).alias("changed"),
            )
            .observe(obs, F.sum(F.col("changed").cast("long")).alias("n"))
        )
        n_changed = obs.get["n"] or 0  # collected by the pin's job
        labels = updated.drop("changed")
        if n_changed == 0:
            if stats is not None:  # convergence telemetry for benchmarks
                stats["iterations"] = it + 1
            return labels
    raise RuntimeError(
        f"duplicate_components did not converge in {max_iters} iterations "
        "(component diameter > 2^iters is astronomically unlikely — "
        "suspect corrupt edge input)"
    )


def dedup_filtered_corpus(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    seeds: tuple[str, ...] = DEFAULT_SEEDS,
    rows_per_band: int = 2,
) -> DataFrame:
    """The fused fuzzy-dedup chain a real pipeline runs as ONE job:
    MinHash candidate pairs → connected components → keeper selection
    (cluster's smallest id survives) → filtered corpus.

    The candidate-pair join is computed exactly once: it flows straight
    into the component iteration's pinned edge set, and the
    final filter anti-joins the input against the (already materialized)
    non-keeper labels — no stage recomputes signatures or pairs.  Scale
    shape: one banded exchange (ReusedExchange self-join), log-diameter
    keyed component rounds, one broadcast-able anti-join of losers
    (|losers| ≤ |duplicates| ≪ |corpus|)."""
    pairs = minhash_candidate_pairs(
        df, text_col, id_col, seeds=seeds, rows_per_band=rows_per_band
    )
    comp = duplicate_components(pairs)
    losers = comp.where(F.col("doc_id") != F.col("component_id")).select(
        F.col("doc_id").alias(id_col)
    )
    return df.join(losers, on=id_col, how="left_anti")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 8,
    w: int = 4,
) -> DataFrame:
    """Winnowing document fingerprints (Schleimer/Wilkerson/Aiken):
    character ``k``-gram hashes over whitespace-normalized text, one
    fingerprint selected per length-``w`` window (the RIGHTMOST minimal
    hash), selections deduplicated.  Guarantees any match of length
    ≥ k + w - 1 shares a fingerprint — the standard local-fingerprinting
    scheme for plagiarism/near-dup detection at corpus scale.

    Hashes are md5-derived (not a true rolling hash — the windowed-min
    SELECTION is what winnowing specifies; md5 keeps the fingerprints
    bit-identical to the SQL oracle).  Output: (doc_id, pos, fp) where
    pos is the 0-based gram index.

    Scale shape: one Arrow kernel per batch (vectorized hashing, python
    window loop over each doc), exploded to rows — downstream matching is
    a keyed equi-join on fp."""
    import re as _re

    # the engine-wide whitespace contract is Java's \s = [ \t\n\x0b\f\r]
    # (python \s/.strip() are unicode and would diverge on NBSP/NEL); the
    # oracle spells the same class out because RE2's \s EXCLUDES \x0b
    ws_re = _re.compile(r"[ \t\n\x0b\f\r]+")

    def winnow(text):
        t = ws_re.sub(" ", (text or "").lower().strip(" "))
        n = len(t)
        if n < k:
            return []
        hashes = [
            hashlib.md5(t[i : i + k].encode("utf-8")).hexdigest()[:15]
            for i in range(n - k + 1)
        ]
        sel: dict[int, str] = {}
        n_windows = max(1, len(hashes) - w + 1)
        for p in range(n_windows):
            window = hashes[p : p + w]
            m = min(window)
            # rightmost minimal hash (winnowing's density rule)
            idx = p + len(window) - 1 - window[::-1].index(m)
            sel[idx] = m
        return [(i, sel[i]) for i in sorted(sel)]

    winnow_udf = row_udf(winnow, "array<struct<pos: int, fp: string>>")
    return df.select(
        F.col(id_col).alias("doc_id"), F.explode(winnow_udf(F.col(text_col))).alias("s")
    ).select("doc_id", "s.*")


def shingles(col, n: int = 3):
    """n-token shingle strings (higher-order expression)."""
    toks = tokens(col)
    return F.when(F.size(toks) < n, F.array()).otherwise(
        F.array_distinct(
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (n - 1)),
                lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
            )
        )
    )


def _hashed_shingles(
    df: DataFrame, text_col: str, id_col: str, n: int
) -> DataFrame:
    """``(id, n_sh, shingle)``: one row per distinct ``n``-gram shingle
    of a document, the shingle as its 60-bit md5 prefix (int64) and
    ``n_sh`` the document's distinct-shingle count.

    The "hybrid" engine splits the work along the cheap/expensive seam:
    the Arrow kernel (:func:`_shingles_udf`) emits distinct shingle
    STRINGS (tokenize + join + dict.fromkeys — pure C string ops, no
    hashlib), and the md5 lands in the JVM as an ordinary codegen
    expression on the EXPLODED rows (``conv(substr(md5(s),1,15),16,10)``
    — no higher-order lambda, so none of the ``"expr"`` interpretation
    penalty).  The explode and the hash run in the same stage, so the
    exchange after it carries 8-byte keys.  Strings are deduplicated
    before hashing, exactly as the DuckDB oracle does (``list_distinct``
    on shingle text, hash after)."""
    return df.select(
        F.col(id_col).alias("id"), _shingles_udf(n)(F.col(text_col)).alias("r")
    ).select(
        "id", F.col("r.n_sh").alias("n_sh"),
        F.explode("r.sh").alias("shingle_str"),
    ).select(
        "id", "n_sh",
        F.conv(F.substring(F.md5("shingle_str"), 1, 15), 16, 10)
        .cast("long").alias("shingle"),
    )


def _shingle_overlaps(
    shingled: DataFrame, max_shingle_df: int | None
) -> DataFrame:
    """Inverted-index self-join of ``(id, n_sh, shingle)`` rows →
    ``(id_a, id_b, n_sh_a, n_sh_b, inter)`` for every pair sharing at
    least one shingle, ``inter`` = |A∩B| over the kept shingles.

    ONE exchange on the shingle feeds the optional document-frequency
    cap (a whole-partition window, no extra shuffle) and both sides of
    the :func:`band_pairs` join.  The cap drops a shingle held by more
    than ``max_shingle_df`` documents before the join; set sizes stay
    exact."""
    shingled = shingled.repartition(F.col("shingle"))
    if max_shingle_df is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("shingle")
        shingled = shingled.withColumn("df", F.count("*").over(w)).where(
            F.col("df") <= max_shingle_df
        ).drop("df")
    return (
        band_pairs(shingled, ["shingle"], ["n_sh"])
        .groupBy("id_a", "id_b", "n_sh_a", "n_sh_b")
        .agg(F.count("*").alias("inter"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.5,
    max_shingle_df: int | None = None,
    engine: str = "hybrid",
) -> DataFrame:
    """Exact n-gram Jaccard over shingle-sharing candidate pairs.

    inverted-index join on shingle → per-pair intersection counts →
    |A∪B| = |A|+|B|-|A∩B|.  Columns: id_a, id_b, jaccard (4dp).

    ``max_shingle_df`` caps a shingle's document frequency before the
    self-join: a boilerplate shingle shared by 10^6 documents would
    otherwise create one 10^12-pair bucket.  Dropped shingles no longer
    contribute to intersections (set sizes stay exact), which is the
    standard trade: pairs that are near-duplicates ONLY through
    boilerplate stop qualifying.  The default is None — exact Jaccard
    semantics for library callers; scale call sites must opt into the cap
    explicitly (the entry-point query passes 100).

    .. versionchanged:: round 3
       **Breaking**: ``max_shingle_df`` defaulted to 1000 before round 3;
       it now defaults to None (exact semantics).  Callers that relied on
       the implicit boilerplate cap to avoid near-quadratic hot-shingle
       buckets at scale MUST now pass a finite cap themselves — on a
       web-scale corpus an uncapped hot shingle (e.g. a footer shared by
       10^6 docs) turns the self-join quadratic.

    Shingles join on their 60-bit md5 prefix (int64), not the string:
    the exchange/join/window keys shrink from ~20-40 bytes of UTF-8 to 8
    bytes, which is most of the shuffle at web scale.  A 2^-60-scale
    prefix collision could merge two shingles; the cross-engine oracle
    applies the identical hash, keeping the contract exact by
    construction.

    ``engine`` selects the shingling kernel:

    - ``"hybrid"`` (default, :func:`_hashed_shingles`): Arrow emits the
      shingle strings, the JVM hashes them.  It replaced an all-Python
      kernel that hashed with hashlib in round 5: measured at sf1 synth
      (50k docs, interleaved min-of-3, BENCH/ngram_engine_ab.py) the
      shingle map stage was 2.0× faster (3.41 s vs 6.85 s).
    - ``"expr"`` (:func:`_shingle_structs_expr`): pure Catalyst
      higher-order expressions, no Python worker in the plan.  It is a
      cross-engine differential validator, not a performance option:
      Catalyst evaluates higher-order lambdas INTERPRETED, and round 5
      measured 7.7-21.8 s against 2.0-2.9 s for the Arrow kernel at
      sf0.1 (BENCH/BASELINE.md).

    Both engines give the same pairs
    (tests/test_plans.py::test_ngram_shingle_engines_bit_identical).
    Plan shape: one exchange on the shingle hash, reused by the DF-cap
    window and the self-join (:func:`_shingle_overlaps`)."""
    if engine == "hybrid":
        shingled = _hashed_shingles(df, text_col, id_col, n)
    elif engine == "expr":
        shingled = df.select(
            F.col(id_col).alias("id"),
            F.explode(_shingle_structs_expr(F.col(text_col), n)).alias("r"),
        ).select(
            "id", F.col("r.n_sh").alias("n_sh"),
            F.col("r.shingle").alias("shingle"),
        )
    else:
        raise ValueError(f"unknown shingle engine {engine!r}")
    union = F.col("n_sh_a") + F.col("n_sh_b") - F.col("inter")
    return (
        _shingle_overlaps(shingled, max_shingle_df)
        .withColumn("jaccard", F.round(F.col("inter") / union, 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def containment_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    threshold: float = 0.8,
    max_shingle_df: int | None = None,
    min_shingles: int = 5,
) -> DataFrame:
    """Broder (1997) shingle CONTAINMENT — the asymmetric companion to
    :func:`ngram_jaccard_pairs`'s resemblance.

        c(A -> B) = |S(A) ∩ S(B)| / |S(A)|

    Resemblance (Jaccard) misses inclusion: a syndicated article pasted
    into a much longer page, a pull-quote document fully contained in
    its source, a page embedded in an archive hub all have LOW Jaccard
    (the union is dominated by the big doc) but containment ≈ 1 in one
    direction.  Web-corpus dedup policies (Broder's original AltaVista
    dedup; syndication detection in news crawls) therefore test BOTH
    metrics.  Output is DIRECTED: (src_id, dst_id, containment) meaning
    src's shingle set is contained in dst's to that degree; both
    directions of a pair are emitted when both clear the threshold.

    ``min_shingles`` drops sources with fewer distinct shingles than the
    floor before thresholding — a 1-shingle stub is "fully contained" in
    everything that shares its one shingle, which is noise, not
    syndication.  (Set sizes stay exact; the floor only gates OUTPUT.)

    Plan shape — identical cost envelope to Jaccard, zero extra passes:
    ONE Arrow shingle kernel, ONE exchange on the 60-bit md5 shingle key
    reused by the optional DF-cap window AND the inverted-index
    self-join, then the per-(a<b) intersection aggregate.  The two
    directed rows are projected FROM the undirected aggregate (explode
    of a 2-struct array), so the join/agg cost is half of what a
    directed a≠b join would pay.  ``max_shingle_df`` has the same
    boilerplate-hot-shingle contract as ngram_jaccard_pairs — at web
    scale, pass a finite cap.
    """
    undirected = _shingle_overlaps(
        _hashed_shingles(df, text_col, id_col, n), max_shingle_df
    )
    directed = undirected.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    F.col("n_sh_a").alias("n_src"),
                    F.col("inter"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    F.col("n_sh_b").alias("n_src"),
                    F.col("inter"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    return (
        directed.where(F.col("n_src") >= min_shingles)
        .withColumn(
            "containment", F.round(F.col("inter") / F.col("n_src"), 4)
        )
        .where(F.col("containment") >= threshold)
        .select("src_id", "dst_id", "containment")
    )


def strip_common_lines(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_line_df: int = 100,
) -> DataFrame:
    """CCNet-style cross-document line dedup: normalize each line
    (lower, trim, collapse whitespace), count occurrences corpus-wide, and
    strip lines whose count exceeds ``max_line_df`` — the standard
    boilerplate cleanup (nav bars, cookie banners, copyright footers)
    before LLM training.  Blank lines are kept verbatim and never counted.

    Returns one row per input document: ``(id_col, n_kept, n_dropped,
    text)`` where ``text`` is the document re-assembled from surviving
    lines in original order.  Documents with NULL text are dropped (no
    lines to keep).

    Plan shape (the 100 TB form): posexplode → ONE exchange on the
    normalized line (the frequency window runs on it; lines are *marked*,
    not filtered, so no second pass over the corpus is needed for the
    dropped count) → ONE exchange back on the document id where a single
    aggregate computes kept/dropped counts and re-assembles the text.
    Exactly two keyed shuffles end-to-end; no driver-side state — the
    hot-line "set" is never materialized, it lives in the window counts.
    """
    from pyspark.sql import Window

    lines = df.select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), "\n")).alias("pos", "ln"),
    ).withColumn(
        "norm",
        F.regexp_replace(F.trim(F.lower(F.col("ln"))), r"\s+", " "),
    ).repartition(F.col("norm"))
    w = Window.partitionBy("norm")
    marked = lines.withColumn(
        "keep",
        (F.col("norm") == "")
        | (F.count("*").over(w) <= F.lit(max_line_df)),
    ).select("id", "pos", "ln", "keep")
    kept_structs = F.filter(
        F.array_sort(F.collect_list(F.struct("pos", "ln", "keep"))),
        lambda s: s["keep"],
    )
    return (
        marked.groupBy("id")
        .agg(
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            (F.count("*") - F.sum(F.col("keep").cast("long"))).alias(
                "n_dropped"
            ),
            F.array_join(
                F.transform(kept_structs, lambda s: s["ln"]), "\n"
            ).alias("text"),
        )
        .select(
            F.col("id").alias(id_col), "n_kept", "n_dropped", "text"
        )
    )


def decontaminate(
    docs: DataFrame,
    benchmark: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    bench_id_col: str = "bench_id",
    n: int = 8,
    min_hits: int = 1,
) -> DataFrame:
    """Benchmark decontamination: flag training documents sharing any
    ``n``-token n-gram with an evaluation set (the GPT-3-appendix /
    Dolma method; n=8 is the conventional window — long enough that a
    collision implies copied text, short enough to catch partial
    inclusions).

    Returns one row per CONTAMINATED document: ``(id_col, n_hits,
    n_bench_docs)`` — distinct colliding n-grams and distinct benchmark
    documents hit.  Filter these ids out of the training corpus.

    Plan shape: both sides explode to (md5(ngram), id) and meet in ONE
    keyed equi-join on the hash — never a cross product; the benchmark
    side is small in practice, so AQE broadcasts it when that is cheaper,
    but nothing forces a broadcast (corpus-scale benchmark sets still
    work as a shuffled join).  Shingling runs in the Arrow batch kernel
    (the higher-order ``shingles()`` expression is Catalyst-interpreted
    at ~1 ms/row — measured 5.3 s → 1.3 s at sf0.1 for this query)."""
    sh_udf = _shingles_udf(n)

    def grams(df, src_id, out_id):
        return df.select(
            F.col(src_id).alias(out_id),
            F.explode(sh_udf(F.col(text_col))["sh"]).alias("g"),
        ).select(out_id, F.md5(F.col("g").cast("binary")).alias("gh"))

    doc_grams = grams(docs, id_col, "id")
    bench_grams = grams(benchmark, bench_id_col, "bid")
    return (
        doc_grams.join(bench_grams, "gh")
        .groupBy("id")
        .agg(
            F.countDistinct("gh").alias("n_hits"),
            F.countDistinct("bid").alias("n_bench_docs"),
        )
        .where(F.col("n_hits") >= min_hits)
        .select(F.col("id").alias(id_col), "n_hits", "n_bench_docs")
    )


def exact_substring_dedup(
    df: DataFrame,
    k: int = 8,
    text_col: str = "text",
    id_col: str = "doc_id",
    keep_first: bool = True,
) -> DataFrame:
    """ExactSubstr dedup (Lee et al. 2021, "Deduplicating Training Data
    Makes Language Models Better") at token granularity: remove every
    token that lies inside a substring of ≥ ``k`` tokens appearing
    verbatim more than once in the corpus.

    The suffix-array machinery of the paper is a single-node construct;
    the distributed-exact equivalent used here rests on a window
    identity: *the set of tokens covered by some duplicated substring of
    length ≥ k is exactly the union of duplicated k-token windows* (any
    longer duplicated span is tiled by duplicated k-windows, and every
    duplicated k-window is itself such a span).  So marking duplicated
    k-windows and erasing their union reproduces the paper's removal set
    without ever materializing suffixes.

    ``keep_first=True`` spares the corpus-wide first occurrence
    (lexicographic ``(doc_id, pos)``) of each window, so one copy of
    every duplicated passage survives — the variant used in practice so
    dedup never deletes text from the language entirely.

    Returns one row per input document (NULL text dropped):
    ``(id_col, n_tokens, n_windows, n_dup_windows, n_dropped, text)``
    where ``text`` is the document re-assembled from surviving tokens
    (single-space joined — the operator is defined over the token
    stream, the same normalization the paper applies byte-wise).

    Plan shape (the 100 TB form): tokenize → per-doc window expressions
    (map-side higher-order functions, no Python) → ONE exchange on the
    window hash where a count/row_number window marks duplicated
    occurrences → the surviving marked positions aggregate per doc (ONE
    keyed exchange with partial agg, carrying only (id, positions)) →
    join back to the token table on the id → coverage test + re-assembly
    as array HOFs, map-side.  The window-hash exchange ships only k-token
    windows; the join-back is the one stage that can move full documents:
    when the marked side fits the broadcast threshold (sparse-dup
    corpora — the common case after upstream exact dedup) AQE broadcasts
    it and the token table never shuffles, otherwise the token arrays
    shuffle once on the id — the same single text-wide exchange the
    line/paragraph dedup reassembly pays.

    The per-token coverage test is ``exists(dpos, p -> p ≤ i < p+k)`` —
    O(n_tokens × n_marked_windows) per document.  Marked windows per doc
    are bounded by n_tokens, and in real corpora the marked set is
    sparse; a sorted-interval walk would be O(n) but needs a zip-fold
    that Catalyst expresses less cleanly — measured irrelevant at the
    corpus scales tested (the window shuffle dominates).
    """
    ws = r"[ \t\n\x0b\f\r]+"
    toks = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.split(F.trim(F.col(text_col)), ws).alias("tk"),
    )

    # per-doc k-token windows: pos ∈ [0, n-k], window = tokens[pos, pos+k),
    # via the HYBRID engine the shingle kernels use (Python builds the
    # window strings in an Arrow batch, the JVM codegen md5 hashes the
    # exploded column).  The pure-Catalyst transform/slice/array_join
    # form is interpreted per window (no codegen for HOF lambdas) and
    # measured 6.9 s for the 2.2M-window map stage at sf1 where this
    # kernel does it in a fraction — the same 4-8× negative result
    # recorded for the pure-Catalyst shingle engine.  Tokenization
    # mirrors F.split(trim(text), java-ws) exactly: strip ASCII spaces,
    # split with trailing empties kept, case preserved.
    def window_strings(t):
        tk = _JAVA_WS.split(t.strip(" "))
        return [" ".join(tk[i:i + k]) for i in range(len(tk) - k + 1)]

    windows = row_udf(window_strings, "array<string>")
    wins = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(windows(F.col(text_col))).alias("pos", "w"),
    ).select("id", "pos", F.md5(F.col("w").cast("binary")).alias("wh"))

    from pyspark.sql import Window

    w = Window.partitionBy("wh")
    w_rn = Window.partitionBy("wh").orderBy("id", "pos")
    dup_cond = F.count("*").over(w) > 1
    if keep_first:
        dup_cond = dup_cond & (F.row_number().over(w_rn) > 1)
    marked = (
        wins.withColumn("dup", dup_cond)
        .where(F.col("dup"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list("pos")).alias("dpos"))
    )

    joined = toks.join(marked, "id", "left").withColumn(
        "dpos", F.coalesce(F.col("dpos"), F.array().cast("array<int>"))
    )
    idx = F.transform(
        "tk", lambda t, i: F.struct(t.alias("t"), i.alias("i"))
    )
    kept = F.filter(
        idx,
        lambda s: ~F.exists(
            F.col("dpos"),
            lambda p: (p <= s["i"]) & (s["i"] < p + F.lit(k)),
        ),
    )
    return joined.select(
        F.col("id").alias(id_col),
        F.size("tk").cast("long").alias("n_tokens"),
        F.greatest(F.size("tk") - k + 1, F.lit(0)).cast("long").alias("n_windows"),
        F.size("dpos").cast("long").alias("n_dup_windows"),
        (F.size("tk") - F.size(kept)).cast("long").alias("n_dropped"),
        F.array_join(F.transform(kept, lambda s: s["t"]), " ").alias("text"),
    )


def dedup_paragraphs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Dolma-style paragraph dedup: across the whole corpus, keep only the
    FIRST occurrence (lexicographic ``(doc_id, pos)``) of each exact
    paragraph; later occurrences are dropped and each document is
    re-assembled from its surviving paragraphs.  This is the
    paragraph-granularity complement to ``strip_common_lines`` (which
    drops by frequency threshold, keeping none) — the Dolma pipeline's
    second dedup stage, after URL-level and before document-level.

    Paragraphs are compared by their ``trim``-ed text; whitespace-only
    paragraphs are structural (kept verbatim, never counted as
    duplicates).  NULL-text documents are dropped.

    Returns ``(id_col, n_paras, n_kept, n_dropped, text)``.

    Plan shape: posexplode → ONE exchange on the paragraph fingerprint
    (a single ``row_number`` window marks first occurrences — the
    paragraph "registry" of the single-node implementation never
    materializes; it lives in the window sort) → ONE exchange back on
    the doc id to re-assemble.  Two keyed shuffles end-to-end, and the
    wide text column only crosses the wire once per paragraph.
    """
    from pyspark.sql import Window

    paras = df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.posexplode(F.split(F.col(text_col), sep.replace("\n", r"\n"))).alias(
            "pos", "para"
        ),
    ).withColumn("fp", F.md5(F.trim(F.col("para")).cast("binary")))
    w = Window.partitionBy("fp").orderBy("id", "pos")
    marked = paras.withColumn(
        "keep",
        (F.trim(F.col("para")) == "") | (F.row_number().over(w) == 1),
    ).select("id", "pos", "para", "keep")
    kept_structs = F.filter(
        F.array_sort(F.collect_list(F.struct("pos", "para", "keep"))),
        lambda s: s["keep"],
    )
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").alias("n_paras"),
            F.sum(F.col("keep").cast("long")).alias("n_kept"),
            (F.count("*") - F.sum(F.col("keep").cast("long"))).alias("n_dropped"),
            F.array_join(
                F.transform(kept_structs, lambda s: s["para"]), sep
            ).alias("text"),
        )
        .select(F.col("id").alias(id_col), "n_paras", "n_kept", "n_dropped", "text")
    )


def dedup_paragraphs_within(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sep: str = "\n\n",
) -> DataFrame:
    """Intra-document paragraph dedup: within EACH document, keep only
    the first occurrence of every exact (``trim``-ed) paragraph and
    re-assemble the text from the survivors.  This is the cleaning
    rewrite that strips repeated in-page boilerplate — nav bars,
    share-this blocks, cookie banners stamped at top AND bottom of the
    same page — before any corpus-wide stage runs (the first dedup
    rung of a C4/Dolma-style pipeline; its corpus-wide complement is
    :func:`dedup_paragraphs`).

    Whitespace-only paragraphs are structural: kept verbatim, never
    counted as duplicates.  NULL-text documents are dropped.

    Returns ``(id_col, n_paras, n_kept, n_dropped, text)``.

    Scale shape — the whole point: this is a pure Column expression
    (split → higher-order ``filter`` with an ``exists`` over the
    position's prefix → ``array_join``), so the plan is a zero-exchange
    map over the scan, whole-stage-codegen'd, no explode and no window.
    The corpus-wide stage costs two keyed shuffles; this stage is free,
    which is why real pipelines run it first — at 10^12 rows it removes
    the stamped-twice boilerplate mass before anything pays a shuffle
    for it.  The prefix ``exists`` is O(paras²) per row — paragraphs
    per page are tens, and the work is row-local compute, not exchange.
    """
    paras = F.split(F.col(text_col), sep.replace("\n", r"\n"))
    # keep p_i iff whitespace-only OR no identical trim in paras[0..i-1]
    kept = F.filter(
        paras,
        lambda p, i: (F.trim(p) == F.lit("")) | ~F.exists(
            F.slice(paras, F.lit(1), i), lambda q: F.trim(q) == F.trim(p)
        ),
    )
    return df.where(F.col(text_col).isNotNull()).select(
        F.col(id_col),
        F.size(paras).cast("long").alias("n_paras"),
        F.size(kept).cast("long").alias("n_kept"),
        (F.size(paras) - F.size(kept)).cast("long").alias("n_dropped"),
        F.array_join(kept, sep).alias("text"),
    )


# ---------------------------------------------------------------------------
# Bloom-filter cross-corpus dedup (the Dolma/BFF membership machinery)
# ---------------------------------------------------------------------------


def bloom_bit_positions(
    text_col: Column, m_bits: int, k_hashes: int
) -> Column:
    """The ``k_hashes`` Bloom bit positions of a document: positions
    ``('0x' || md5('b<j>|' || fingerprint)[:15])::int64 mod m_bits`` over
    the whole-document fingerprint — deterministic, integer-exact, and
    mirrorable verbatim in any engine with md5."""
    fp = fingerprint(text_col)
    return F.array(
        *[
            F.pmod(
                F.conv(
                    F.substring(
                        F.md5(F.concat(F.lit(f"b{j}|"), fp).cast("binary")),
                        1,
                        15,
                    ),
                    16,
                    10,
                ).cast("long"),
                F.lit(m_bits),
            )
            for j in range(k_hashes)
        ]
    )


def bloom_set_bits(
    df: DataFrame,
    text_col: str = "text",
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Distributed Bloom-filter BUILD over corpus A: the filter as a
    sparse table of DISTINCT set bit positions (column ``bit``).  At
    10^12 rows this is a bounded aggregate — at most ``m_bits`` rows out
    regardless of corpus size; densifying to a broadcastable bitmap is
    the last-mile step (:func:`bloom_dense_bytes`)."""
    return (
        df.where(F.col(text_col).isNotNull())
        .select(
            F.explode(
                bloom_bit_positions(F.col(text_col), m_bits, k_hashes)
            ).alias("bit")
        )
        .distinct()
    )


def bloom_dense_bytes(set_bits: DataFrame, m_bits: int) -> bytes:
    """Densify the set-bit table into the classic bitmap (little-endian
    bit order within each byte).  The collect is bounded by ``m_bits``
    (the filter size you chose for your memory budget), NOT by corpus
    size — a 1 GiB bitmap covers ~10^9 documents at 1% FPR with k=7.
    Broadcast the returned bytes and test membership map-side."""
    import numpy as np

    arr = np.zeros(m_bits, dtype=bool)
    for row in set_bits.collect():
        arr[row["bit"]] = True
    return np.packbits(arr, bitorder="little").tobytes()


def bloom_maybe_in(
    docs: DataFrame,
    set_bits: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    m_bits: int = 4096,
    k_hashes: int = 4,
) -> DataFrame:
    """Membership test of corpus B against corpus A's Bloom filter, in
    the JOIN form: a document is ``maybe_in_a`` iff ALL ``k_hashes`` of
    its bit positions are set — semantically the exact Bloom filter
    (false positives included), expressed as one keyed equi-join +
    having-count, so a SQL oracle can mirror it bit-for-bit.

    The production form broadcasts :func:`bloom_dense_bytes` and tests
    map-side (zero shuffles); this join form IS the semantics and the
    cross-engine gate for it — pinned identical by
    tests/test_plans.py::test_bloom_join_and_dense_forms_agree.

    Returns ``(id_col, maybe_in_a)`` for every non-NULL-text row of B.

    Plan shape: B explodes to (id, bit) — k rows per doc — and meets the
    ≤ m_bits set-bit table in ONE keyed equi-join (AQE broadcasts the
    tiny build side); a doc-id count-aggregate applies the all-k rule.
    """
    probes = docs.where(F.col(text_col).isNotNull()).select(
        F.col(id_col).alias("id"),
        F.explode(
            bloom_bit_positions(F.col(text_col), m_bits, k_hashes)
        ).alias("bit"),
    )
    hits = (
        probes.join(set_bits.withColumnRenamed("bit", "setbit"),
                    probes["bit"] == F.col("setbit"), "left")
        .groupBy("id")
        .agg(
            (F.count("setbit") == F.lit(k_hashes)).alias("maybe_in_a")
        )
    )
    return hits.select(F.col("id").alias(id_col), "maybe_in_a")


def ngram_novelty(
    docs: DataFrame,
    ref: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 5,
    broadcast_ref: bool = False,
) -> DataFrame:
    """Per-document n-gram novelty vs a reference corpus — the
    memorization/overlap audit (how much of each doc is already in the
    training set?): ``novel_frac = |shingles(doc) \\ shingles(ref)| /
    |shingles(doc)|`` over distinct ``n``-token shingles.

    Complements :func:`decontaminate` (binary flag, benchmark side) with
    a graded per-document score against an arbitrary reference corpus —
    the quantity memorization studies (Lee et al. 2021; Carlini et al.
    2022) threshold on.

    Returns ``(id_col, n_sh, n_seen, novel_frac)`` for every doc with at
    least one shingle (docs shorter than ``n`` tokens have no shingles
    and no row — same convention as the other shingle operators).

    Plan shape: reference shingles distinct in ONE keyed exchange; doc
    shingles meet them in ONE 60-bit-hash equi-join (keyed by default —
    a crawl-scale reference set must NOT be broadcast; flip
    ``broadcast_ref`` for benchmark-sized references) and fold back with
    ONE groupBy(id).  Shingling itself is the Arrow batch kernel shared
    with the dedup family; counts are over distinct HASHES, the
    documented 2^-60 collision semantics every oracle mirrors."""
    sh_udf = _shingles_udf(n, hashed=True)

    refsh = (
        ref.where(F.col(text_col).isNotNull())
        .select(F.explode(sh_udf(F.col(text_col))["sh"]).alias("h"))
        .distinct()
        .withColumn("__seen", F.lit(1))
    )
    if broadcast_ref:
        refsh = F.broadcast(refsh)
    d = (
        docs.where(F.col(text_col).isNotNull())
        .select(F.col(id_col).alias("id"), sh_udf(F.col(text_col)).alias("s"))
        .select("id", F.col("s.n_sh").alias("n_sh"), F.explode("s.sh").alias("h"))
    )
    return (
        d.join(refsh, "h", "left")
        .groupBy("id", "n_sh")
        .agg(F.count("__seen").alias("n_seen"))
        .select(
            F.col("id").alias(id_col),
            F.col("n_sh").cast("bigint").alias("n_sh"),
            F.col("n_seen").cast("bigint").alias("n_seen"),
            F.round(
                (F.col("n_sh") - F.col("n_seen"))
                / F.col("n_sh").cast("double"),
                4,
            ).alias("novel_frac"),
        )
    )


# shared line normalization for host_template_lines: the ws class is
# spelled explicitly (not \s) so the Spark regex and the DuckDB/RE2
# oracle replay the IDENTICAL class (Java \s includes \x0b, RE2's
# excludes it); trim() then strips plain spaces only — the one
# whitespace both engines' trim agrees on.
LINE_NORM_WS = "[ \\t\\n\\x0B\\f\\r]+"


def host_template_lines(
    df: DataFrame,
    host_col: str = "host",
    text_col: str = "text",
    id_col: str = "doc_id",
    min_frac_pct: int = 60,
    min_host_docs: int = 2,
) -> DataFrame:
    """Per-host template (chrome) lines: normalized lines occurring on
    ≥ ``min_frac_pct`` % of a host's documents — the host-scoped CCNet
    variant (nav bars, cookie banners, footer chrome are per-SITE
    artifacts; a corpus-global count misses small sites and
    over-strips common short sentences).  The fraction predicate is
    pure integer arithmetic (``n_docs·100 ≥ host_docs·pct``) — no
    float thresholds to drift cross-engine.

    Output: ``(host, line, n_docs, host_docs)`` — the template table a
    cleaning pass then strips with one semi-join.

    Plan shape at 10^12 pages: per-document line sets are DISTINCT-ed
    ROW-LOCALLY (``array_distinct`` before the explode — no dedup
    exchange), so the only row-volume shuffle is ONE keyed aggregate
    on ``(host, line)`` with map-side partials; the per-host doc count
    is a second tiny keyed aggregate, joined back host-keyed (the host
    dimension is far too large to broadcast at crawl scale — the join
    rides the aggregate's partitioning).
    """
    norm_lines = F.array_distinct(
        F.filter(
            F.transform(
                F.split(F.col(text_col), "\n"),
                lambda ln: F.trim(
                    F.regexp_replace(F.lower(ln), LINE_NORM_WS, " ")
                ),
            ),
            lambda s: s != "",
        )
    )
    lines = df.where(F.col(text_col).isNotNull()).select(
        F.col(host_col).alias("host"), F.explode(norm_lines).alias("line")
    )
    per_line = lines.groupBy("host", "line").agg(
        F.count("*").alias("n_docs")
    )
    host_docs = (
        df.where(F.col(text_col).isNotNull())
        .groupBy(F.col(host_col).alias("host"))
        .agg(F.count("*").alias("host_docs"))
    )
    return (
        per_line.join(host_docs, "host")
        .where(
            (F.col("n_docs") * 100 >= F.col("host_docs") * min_frac_pct)
            & (F.col("host_docs") >= min_host_docs)
        )
        .select("host", "line", "n_docs", "host_docs")
    )


def verified_neardup_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    sim_threshold_micro: int = 600_000,
    **minhash_kwargs,
) -> DataFrame:
    """The candidate→verify rung of production near-dup dedup: MinHash
    LSH proposes pairs (:func:`minhash_candidate_pairs` — banding makes
    recall cheap but admits band-collision false positives), then every
    candidate is VERIFIED with an exact edit-distance similarity

        sim_micro = ((maxlen - levenshtein) * 1e6) DIV maxlen

    and only pairs at or above ``sim_threshold_micro`` survive.  This
    is the shape Lee et al./Dolma-style pipelines run: sketch to
    propose, exact-verify to decide, never all-pairs.

    Everything is JVM built-ins: ``F.levenshtein`` runs codegen-side
    (no Python in the verify loop), and the two text-attach joins are
    keyed equi-joins on the id — candidates are sketch-output-sized,
    so at crawl scale both joins shuffle on the id key and AQE picks
    broadcast when the candidate set is small.  Engine note for the
    oracle: Spark's levenshtein counts CODE POINTS while DuckDB's
    counts BYTES on non-ASCII input — the driver corpus is ASCII where
    the two agree exactly; non-ASCII corpora need a byte-cast mirror.

    Output: (id_a, id_b, lev, sim_micro), id_a < id_b.
    """
    pairs = minhash_candidate_pairs(
        df, text_col=text_col, id_col=id_col, **minhash_kwargs
    )
    a = df.select(
        F.col(id_col).alias("id_a"), F.col(text_col).alias("__ta")
    )
    b = df.select(
        F.col(id_col).alias("id_b"), F.col(text_col).alias("__tb")
    )
    scored = (
        pairs.join(a, "id_a")
        .join(b, "id_b")
        .select(
            "id_a",
            "id_b",
            F.levenshtein("__ta", "__tb").cast("bigint").alias("lev"),
            F.greatest(F.length("__ta"), F.length("__tb"))
            .cast("bigint").alias("__mx"),
        )
        .select(
            "id_a",
            "id_b",
            "lev",
            F.when(F.col("__mx") == 0, F.lit(1_000_000))
            .otherwise(
                F.expr("((__mx - lev) * 1000000) div __mx")
            ).cast("bigint").alias("sim_micro"),
        )
    )
    return scored.where(F.col("sim_micro") >= sim_threshold_micro)


def _minhash_sig_affine_udf(n_perms: int, rows_per_band: int, n: int = 3):
    """Signature-AND-bands variant of :func:`_minhash_bands_affine_udf`:
    one kernel evaluation yields the distinct-shingle count, the full
    ``n_perms`` min-signature (for estimator math) and the LSH band keys
    (for candidate generation) — so the signature table is computed
    once, the way a production dedup materializes it."""
    a, b = _affine_arrays(n_perms)

    def sig_bands(text):
        n_sh, mins, bands = _affine_minhash(text, a, b, n, rows_per_band)
        return n_sh, [int(v) for v in mins], bands

    # guide §4.4: the caller filters on n_sh (a field of this UDF's
    # output), and the optimizer pushes that filter below any exchange by
    # DUPLICATING the UDF — the signature kernel then runs twice, once
    # below the parallelism-floor exchange on the single input split
    # (measured: the whole containment_est wall).  Marking it
    # non-deterministic forbids the duplication; the value is of course
    # deterministic, only the optimizer's freedom changes.
    return row_udf(
        sig_bands, "struct<n_sh: int, sig: array<long>, bands: array<string>>"
    ).asNondeterministic()


def containment_est_pairs(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_perms: int = 128,
    rows_per_band: int = 8,
    n: int = 3,
    threshold: float = 0.5,
    min_shingles: int = 5,
) -> DataFrame:
    """MinHash-ESTIMATED directed containment — the sketch path for
    :func:`containment_pairs` at web scale, where the exact
    inverted-index self-join is the expensive term.

    From the identity c(A→B) = |A∩B| / |A| and Jaccard J = m/n_perms
    (m = matching signature positions — an unbiased MinHash estimate),
    with EXACT distinct-shingle counts carried on the signature row:

        inter ≈ J·(|A|+|B|) / (1+J)  =  m·(|A|+|B|) / (n_perms+m)
        c_est(A→B)_micro = (m·(|A|+|B|)·1e6) DIV ((n_perms+m)·|A|)

    — pure int64 end to end (m ≤ n_perms, products < 2^62 for corpus
    documents), so the estimator is bit-exact across engines even
    though it only APPROXIMATES the true containment (the quality
    pytest bounds the estimation error against the exact operator).

    Plan shape: ONE Arrow kernel evaluation produces n_sh + signature +
    band keys together; the signature table is pinned (``pin``)
    (≈ n_perms·8 bytes/doc — the artifact a production dedup would
    write to storage); candidates come from the same single-exchange
    band join as production MinHash; the estimator is then a keyed
    signature attach + one JVM zip_with/aggregate per candidate pair —
    candidate-bounded, never corpus².  Output: (src_id, dst_id, m,
    c_est_micro), both directions emitted independently when they clear
    the threshold; sources under ``min_shingles`` suppressed like the
    exact form.
    """
    udf = _minhash_sig_affine_udf(n_perms, rows_per_band, n)
    sigs = pin(
        df.select(F.col(id_col).alias("id"), udf(F.col(text_col)).alias("r"))
        .select(
            "id", F.col("r.n_sh").alias("n_sh"), F.col("r.sig").alias("sig"),
            F.col("r.bands").alias("bands"),
        )
        .where(F.col("n_sh") > 0)
    )
    banded = sigs.select(
        "id", F.posexplode("bands").alias("band_no", "band_key")
    )
    pairs = (
        banded.alias("a")
        .join(
            banded.alias("b"),
            (F.col("a.band_no") == F.col("b.band_no"))
            & (F.col("a.band_key") == F.col("b.band_key"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    sa = sigs.select(
        F.col("id").alias("id_a"), F.col("n_sh").alias("n_a"),
        F.col("sig").alias("sig_a"),
    )
    sb = sigs.select(
        F.col("id").alias("id_b"), F.col("n_sh").alias("n_b"),
        F.col("sig").alias("sig_b"),
    )
    m = F.aggregate(
        F.zip_with(
            F.col("sig_a"), F.col("sig_b"),
            lambda x, y: (x == y).cast("int"),
        ),
        F.lit(0),
        lambda acc, v: acc + v,
    )
    scored = (
        pairs.join(sa, "id_a")
        .join(sb, "id_b")
        .withColumn("m", m.cast("long"))
    )
    directed = scored.select(
        F.explode(
            F.array(
                F.struct(
                    F.col("id_a").alias("src_id"),
                    F.col("id_b").alias("dst_id"),
                    F.col("n_a").alias("n_src"),
                    F.col("n_b").alias("n_dst"),
                    F.col("m"),
                ),
                F.struct(
                    F.col("id_b").alias("src_id"),
                    F.col("id_a").alias("dst_id"),
                    F.col("n_b").alias("n_src"),
                    F.col("n_a").alias("n_dst"),
                    F.col("m"),
                ),
            )
        ).alias("d")
    ).select("d.*")
    thr_micro = int(round(threshold * 1_000_000))
    return (
        directed.where(F.col("n_src") >= min_shingles)
        .withColumn(
            "c_est_micro",
            F.expr(
                f"(m * (n_src + n_dst) * 1000000) div "
                f"(({n_perms} + m) * n_src)"
            ).cast("long"),
        )
        .where(F.col("c_est_micro") >= thr_micro)
        .select("src_id", "dst_id", "m", "c_est_micro")
    )
