"""Gear-CDC kernel + corpus dedup stats: boundary semantics, the
shift-resilience property that motivates CDC, and the pinned oracle
literals."""

import hashlib

import pytest


def _kernel():
    from doctor_spark.kernels import cdc

    return cdc


class TestChunkPayload:
    def test_concat_and_sizes(self):
        cp = _kernel().chunk_payload
        data = b"abcdefgh" * 64  # 512 bytes
        ch = cp(data)
        assert sum(c[1] for c in ch) == len(data)
        offs = [c[0] for c in ch]
        assert offs == sorted(offs) and offs[0] == 0
        for o, ln, h in ch:
            assert 1 <= ln <= 256
            assert h == hashlib.md5(data[o:o + ln]).hexdigest()

    def test_min_and_max_gates(self):
        cp = _kernel().chunk_payload
        for o, ln, h in cp(bytes(range(256)) * 8, min_size=50,
                           max_size=100, mask=0x0F)[:-1]:
            assert 50 <= ln <= 100

    def test_shift_resilience(self):
        """Insert bytes at the front: all chunks past the insertion
        region realign — the property fixed-size blocking lacks."""
        cp = _kernel().chunk_payload
        base = ("payload body " * 100).encode()
        shifted = b"INSERTED-PREFIX-BYTES " + base
        h1 = {c[2] for c in cp(base)}
        h2 = {c[2] for c in cp(shifted)}
        # most of the original chunk set survives the shift
        assert len(h1 & h2) >= max(1, len(h1) - 2)

    def test_empty_payload(self):
        assert _kernel().chunk_payload(b"") == []

    def test_gear_is_deterministic(self):
        g = _kernel().GEAR
        assert len(g) == 256
        assert g[0] == int.from_bytes(
            hashlib.md5(b"\x00").digest()[:8], "big"
        )


class TestCdcOperator:
    def test_stats_rollup(self, spark):
        from doctor_spark.operators.cdc import cdc_chunks, cdc_dedup_stats
        from pyspark.sql import functions as F

        rows = [(b"A" * 300,), (b"A" * 300,), (b"B" * 100,), (None,)]
        df = spark.createDataFrame(rows, "payload binary")
        ch = cdc_chunks(df)
        np = df.where(F.col("payload").isNotNull()).agg(
            F.count("*").alias("n_payloads")
        )
        out = cdc_dedup_stats(ch, np).collect()[0]
        assert out["n_payloads"] == 3
        assert out["bytes_total"] == 700
        # the two identical payloads dedup fully
        from doctor_spark.kernels.cdc import chunk_payload

        distinct = {c[2]: c[1] for c in chunk_payload(b"A" * 300)}
        distinct.update({c[2]: c[1] for c in chunk_payload(b"B" * 100)})
        assert out["n_distinct_chunks"] == len(distinct)
        assert out["bytes_distinct"] == sum(distinct.values())
        assert out["dedup_ratio_micro"] == (
            out["bytes_distinct"] * 1_000_000
        ) // out["bytes_total"]

    def test_oracle_literals_match_kernel(self):
        """The driver oracle's VALUES chunk table must be exactly what
        the kernel computes on the synthesis arms."""
        from doctor_spark.queries.dedup import _CDC_ARMS, _CDC_CHUNKS
        from doctor_spark.kernels.cdc import chunk_payload

        assert len(_CDC_ARMS) == 8
        for i, arm in enumerate(_CDC_ARMS):
            got = chunk_payload(
                arm.encode(), min_size=24, max_size=192, mask=0x3F
            )
            want = [c for a, *c in _CDC_CHUNKS if a == i]
            assert [list(c) for c in got] == want, i
