"""Perceptual image deduplication — the multimodal rung of the dedup
ladder (LAION-style corpus builds run exactly this stage between download
and training-set assembly).

Shape at 10^12 images:

- the dHash (:mod:`..kernels.imagehash`) is ONE Arrow map stage — decode
  (from-scratch PNG codec / synthetic raster / Pillow stub, same dispatch
  as the media features operator) + integer block-average + 64 gradient
  comparisons per image, no shuffle;
- exact perceptual clusters are a single keyed groupBy on the 64-bit
  hash (map-side partial aggregation collapses each cluster to one row
  per partition before the exchange);
- near-duplicate pairs (Hamming ≤ k) reuse the SimHash band-bucketing
  machinery: a 64-bit signature split into ``n_bands`` slices, same-band
  equi-join (complete by pigeonhole for ``k < n_bands``), JVM
  ``bit_count`` rescore — never a cross join, never Python on the pair
  stream.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

__all__ = ["image_dhash", "image_dup_clusters", "image_near_pairs"]


def _dhash_udf():
    from ..kernels.imagehash import dhash64
    from .multimodal import decode_image_any

    def udf(b):
        if b is None:
            return None
        try:
            return dhash64(decode_image_any(bytes(b)))
        except (ValueError, NotImplementedError):
            # undecodable payload (or env-gated codec): NULL hash,
            # never a dead task
            return None

    # asNondeterministic stops Catalyst from inlining the UDF into
    # pushed-down predicates — without it, any isNotNull filter on the
    # hash column decodes every image TWICE (observed in the physical
    # plan: two ArrowEvalPython nodes for one udf call)
    return row_udf(udf, "bigint").asNondeterministic()


def image_dhash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """``(id, dhash)`` — 64-bit perceptual hash per image; NULL for
    payloads that fail to decode."""
    return df.select(
        F.col(id_col).alias("id"),
        _dhash_udf()(F.col(payload_col)).alias("dhash"),
    )


def image_dup_clusters(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Exact perceptual clusters: group by dHash.  Returns one row per
    cluster ``(dhash, rep_id = min id, n_images)`` — the keep-one-
    representative form.  Undecodable images are excluded (no cluster)."""
    hashed = image_dhash(df, payload_col, id_col).where(
        F.col("dhash").isNotNull()
    )
    return hashed.groupBy("dhash").agg(
        F.min("id").alias("rep_id"), F.count("*").alias("n_images")
    )


def image_near_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate image pairs by dHash Hamming distance ≤
    ``max_hamming`` — the shared banded self-join
    (:func:`..operators.hamming.banded_hamming_pairs`): pigeonhole-
    complete, JVM ``bit_count`` rescore.  Columns: id_a, id_b, hamming.

    No isNotNull filter on the hash: a NULL signature yields NULL band
    keys, which the inner equi-join drops for free — filtering the UDF
    column here would make Catalyst decode every image twice."""
    from .hamming import banded_hamming_pairs

    sigs = image_dhash(df, payload_col, id_col).withColumnRenamed(
        "dhash", "sig"
    )
    return banded_hamming_pairs(sigs, max_hamming, n_bands)
