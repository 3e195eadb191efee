"""Perceptual audio deduplication — the audio rung of the dedup ladder,
the exact shape of :mod:`.imagedup` over the energy-envelope fingerprint
(:mod:`..kernels.audiohash`): decode (real RIFF/WAV parser or the
synthetic raster) + hash in ONE Arrow map stage, exact clusters via one
keyed groupBy, Hamming near pairs via the shared pigeonhole band join
(:mod:`.hamming`)."""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

__all__ = ["audio_afp", "audio_dup_clusters", "audio_near_pairs"]


def _decode_samples(payload: bytes):
    """audio payload → int16 samples: RIFF/WAV via the from-scratch
    parser, SYNAUD via the synthetic codec."""
    from ..kernels.audio import parse_wav

    if payload[:4] == b"RIFF":
        _rate, samples = parse_wav(payload)
        return samples
    from .multimodal import decode_audio

    samples, _rate = decode_audio(payload)
    return samples


def _afp_udf():
    from ..kernels.audiohash import afp64

    def udf(b):
        if b is None:
            return None
        try:
            return afp64(_decode_samples(bytes(b)))
        except (ValueError, NotImplementedError):
            return None

    # asNondeterministic: Catalyst would otherwise decode twice through
    # pushed predicates, as on the image path (see operators/imagedup.py)
    return row_udf(udf, "bigint").asNondeterministic()


def audio_afp(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """``(id, afp)`` — 64-bit energy-envelope fingerprint per clip; NULL
    for payloads that fail to decode."""
    return df.select(
        F.col(id_col).alias("id"),
        _afp_udf()(F.col(payload_col)).alias("afp"),
    )


def audio_dup_clusters(
    df: DataFrame, payload_col: str = "payload", id_col: str = "media_id"
) -> DataFrame:
    """Exact perceptual clusters: ``(afp, rep_id, n_clips)`` — one keyed
    groupBy with map-side partial aggregation."""
    hashed = audio_afp(df, payload_col, id_col).where(
        F.col("afp").isNotNull()
    )
    return hashed.groupBy("afp").agg(
        F.min("id").alias("rep_id"), F.count("*").alias("n_clips")
    )


def audio_near_pairs(
    df: DataFrame,
    payload_col: str = "payload",
    id_col: str = "media_id",
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """Near-duplicate clip pairs by fingerprint Hamming distance —
    the shared banded self-join.  Columns: id_a, id_b, hamming."""
    from .hamming import banded_hamming_pairs

    sigs = audio_afp(df, payload_col, id_col).withColumnRenamed(
        "afp", "sig"
    )
    return banded_hamming_pairs(sigs, max_hamming, n_bands)
