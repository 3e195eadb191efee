"""Perceptual video deduplication — the third multimodal rung, the exact
shape of :mod:`.imagedup`/:mod:`.audiodup` over the temporal-mean-frame
fingerprint (:func:`..kernels.imagehash.vhash64`): decode + hash in ONE
Arrow map stage, exact clusters via one keyed groupBy, Hamming near
pairs via the shared pigeonhole band join (:mod:`.hamming`).

Container note: this engine's video payloads are the declared synthetic
frame-stack codec (operators/multimodal.py) — real-container demuxing
(mp4/mkv) is a pluggable-backend boundary exactly like JPEG/ffmpeg.  The
Spark-side plumbing (schema, one-stage hash, cluster/pair plans) is real
and tested either way.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

__all__ = ["video_vhash", "video_dup_clusters", "video_near_pairs"]


def _vhash_udf():
    from ..kernels.imagehash import vhash64
    from .multimodal import decode_video

    def udf(b):
        if b is None:
            return None
        try:
            return vhash64(decode_video(bytes(b)))
        except (ValueError, NotImplementedError):
            return None

    # same guard as the image/audio paths (see imagedup.py)
    return row_udf(udf, "bigint").asNondeterministic()


def video_vhash(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """``(id, vhash)`` — 64-bit fingerprint per clip; NULL on decode
    failure."""
    return df.select(
        F.col(id_col).alias("id"),
        _vhash_udf()(F.col(payload_col)).alias("vhash"),
    )


def video_dup_clusters(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Exact perceptual clusters ``(vhash, rep_id, n_clips)``."""
    hashed = video_vhash(df, payload_col, id_col).where(
        F.col("vhash").isNotNull()
    )
    return hashed.groupBy("vhash").agg(
        F.min("id").alias("rep_id"), F.count("*").alias("n_clips")
    )


def video_near_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate clip pairs by fingerprint Hamming distance."""
    from .hamming import banded_hamming_pairs

    sigs = video_vhash(df, payload_col, id_col).withColumnRenamed(
        "vhash", "sig"
    )
    return banded_hamming_pairs(sigs, max_hamming, n_bands)
