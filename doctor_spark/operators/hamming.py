"""Keyed band self-joins — the one candidate-pair generator behind every
LSH/band dedup operator (MinHash bands, SimHash and perceptual-hash
Hamming bands, sign-projection buckets, shingle inverted indexes,
SemDeDup clusters).

:func:`band_pairs` self-joins a frame that is already partitioned on its
band key, so both join sides read the SAME exchange (a ReusedExchange in
the final plan): signatures are computed once per row and the pair
stream is linear in bucket occupancy, never a cross product.

:func:`banded_hamming_pairs` is its Hamming-radius client.  Completeness
by pigeonhole: a signature split into ``n_bands`` equal slices differing
in fewer than ``n_bands`` bits must agree on at least one slice, so for
``max_hamming < n_bands`` the same-band equi-join loses no true pair.
Candidates rescore with JVM ``bit_count`` — never Python on the pair
stream.
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import DataFrame, functions as F

__all__ = ["band_pairs", "banded_hamming_pairs"]


def band_pairs(
    stacked: DataFrame, keys: Sequence[str], carry: Sequence[str] = ()
) -> DataFrame:
    """Self-join ``stacked`` (columns ``id``, ``keys``, ``carry``; one row
    per (item, band)) on ``keys`` → ``(id_a, id_b, <c>_a, <c>_b, ...)``
    with ``id_a < id_b``, one row per shared band.

    ``stacked`` must already be partitioned on ``keys`` (a
    ``repartition`` or a checkpoint of one): both sides then reuse that
    exchange.  NULL keys never match.  Callers that want each pair once
    add ``distinct()``; the shingle joins count the rows instead."""
    sides = [
        stacked.select(
            *keys,
            F.col("id").alias(f"id_{s}"),
            *[F.col(c).alias(f"{c}_{s}") for c in carry],
        )
        for s in "ab"
    ]
    return (
        sides[0].join(sides[1], list(keys))
        .where(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b", *[f"{c}_{s}" for c in carry for s in "ab"])
    )


def banded_hamming_pairs(
    sigs: DataFrame,
    max_hamming: int = 3,
    n_bands: int = 4,
    id_col: str = "id",
    sig_col: str = "sig",
    bits: int = 64,
) -> DataFrame:
    """``sigs`` (one row per item: ``id_col``, ``bits``-wide ``sig_col``)
    → pairs ``(id_a, id_b, hamming)`` with ``hamming <= max_hamming``.
    NULL signatures drop out at the band equi-join for free."""
    if max_hamming >= n_bands:
        raise ValueError("completeness needs max_hamming < n_bands")
    if bits % n_bands:
        raise ValueError(f"n_bands must divide {bits}")
    band_width = bits // n_bands
    mask = (1 << band_width) - 1
    base = sigs.select(
        F.col(id_col).alias("id"), F.col(sig_col).alias("sig")
    )
    stacked = base.select(
        "id", "sig",
        F.posexplode(
            F.array(*[
                F.shiftright(F.col("sig"), b * band_width).bitwiseAND(
                    F.lit(mask)
                )
                for b in range(n_bands)
            ])
        ).alias("band_no", "band_val"),
    ).repartition(F.col("band_no"), F.col("band_val"))
    return (
        band_pairs(stacked, ["band_no", "band_val"], ["sig"])
        .select(
            "id_a", "id_b",
            F.bit_count(
                F.col("sig_a").bitwiseXOR(F.col("sig_b"))
            ).alias("hamming"),
        )
        .where(F.col("hamming") <= max_hamming)
        .distinct()
    )
