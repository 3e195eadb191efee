"""Corpus-level content-defined dedup accounting — gear-CDC chunks
(kernels/cdc.py) rolled up to the storage-dedup ratio: how many bytes
does the corpus actually need once identical content-defined chunks
are stored once?  This is the capture-level complement to the WARC
revisit operator: revisit dedups identical whole payloads, CDC finds
the shared SUB-payload regions (templated headers, mirrored bodies,
re-crawls with small edits).

Scale shape: ONE Arrow pass chunks each payload (per-row output
bounded by payload_size / min_chunk, never corpus size), ONE keyed
aggregate on chunk_hash — map-side combine absorbs the hot chunks
(the whole point is that popular chunks repeat) — and the final stats
are scalar rollups of the hash-level aggregate.  At 10^12 payloads the
chunk-hash table is the big intermediate; it is exactly the
hash-partitioned shape a dedup store wants to persist anyway.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from ..arrow import row_udf

_CHUNK_SCHEMA = "array<struct<off:int,len:int,hash:string>>"


def _chunks_udf(min_size: int, max_size: int, mask: int):
    from ..kernels.cdc import chunk_payload

    def chunks(b):
        return None if b is None else chunk_payload(bytes(b), min_size, max_size, mask)

    return row_udf(chunks, _CHUNK_SCHEMA)


def cdc_chunks(
    df: DataFrame,
    payload_col: str = "payload",
    min_size: int = 32,
    max_size: int = 256,
    mask: int = 0x7F,
) -> DataFrame:
    """(off, len, hash) per chunk per payload row (null payloads
    dropped) — one Arrow map stage plus the explode."""
    u = _chunks_udf(min_size, max_size, mask)
    return (
        df.where(F.col(payload_col).isNotNull())
        .select(F.explode(u(F.col(payload_col))).alias("c"))
        .select("c.off", "c.len", "c.hash")
    )


def cdc_dedup_stats(chunks: DataFrame, n_payloads: DataFrame) -> DataFrame:
    """One row: (n_payloads, n_chunks, n_distinct_chunks, bytes_total,
    bytes_distinct, dedup_ratio_micro) — ratio = distinct bytes per
    stored byte, int64 micro (truncating div, engine-portable)."""
    tot = chunks.agg(
        F.count("*").alias("n_chunks"),
        F.sum("len").alias("bytes_total"),
    )
    dist = (
        chunks.groupBy("hash")
        .agg(F.min("len").alias("len"))
        .agg(
            F.count("*").alias("n_distinct_chunks"),
            F.sum("len").alias("bytes_distinct"),
        )
    )
    return (
        n_payloads.crossJoin(F.broadcast(tot))
        .crossJoin(F.broadcast(dist))
        .select(
            F.col("n_payloads").cast("bigint"),
            F.col("n_chunks").cast("bigint"),
            F.col("n_distinct_chunks").cast("bigint"),
            F.col("bytes_total").cast("bigint"),
            F.col("bytes_distinct").cast("bigint"),
            F.expr(
                "(bytes_distinct * 1000000) div bytes_total"
            ).cast("bigint").alias("dedup_ratio_micro"),
        )
    )
