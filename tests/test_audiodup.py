"""Perceptual audio dedup: afp64 kernel algebra, the synthesis
guarantees behind the driver oracle, and the cluster / near-pair
operators over real WAV bytes."""

import numpy as np
import pytest

from doctor_spark.kernels.audiohash import afp64
from doctor_spark.kernels.imagehash import hamming64


def _clip(levels: np.ndarray, frame: int = 64) -> np.ndarray:
    return np.repeat(levels.astype(np.int64), frame).astype(np.int16)


class TestAfpKernel:
    def test_rising_envelope_is_all_ones(self):
        assert afp64(_clip(np.arange(65) * 10 + 5)) == -1

    def test_flat_envelope_is_zero(self):
        assert afp64(np.full(65 * 64, 200, np.int16)) == 0

    def test_gain_invariance(self):
        rng = np.random.RandomState(11)
        levels = rng.randint(1, 400, 65)
        assert afp64(_clip(levels)) == afp64(_clip(levels * 3))

    def test_sign_irrelevant(self):
        levels = np.arange(65) * 7 + 3
        pos = _clip(levels)
        assert afp64(pos) == afp64(-pos)

    def test_stereo_mono_mean(self):
        levels = (np.arange(65) % 9) * 50 + 10
        mono = _clip(levels)
        stereo = np.stack([mono, mono], axis=1)
        assert afp64(mono) == afp64(stereo)

    def test_short_clip_fallback_and_empty(self):
        assert isinstance(afp64(np.arange(10, dtype=np.int16)), int)
        with pytest.raises(ValueError):
            afp64(np.array([], dtype=np.int16))

    def test_single_comparison_flip(self):
        levels = np.full(65, 100)
        h0 = afp64(_clip(levels))
        bump = levels.copy()
        bump[10] = 300  # flips comparison 9->10; 10->11 stays False
        assert hamming64(h0, afp64(_clip(bump))) == 1


class TestEntrySynthesisGuarantees:
    def test_noise_invariance_across_docs(self):
        from doctor_spark.queries.media import _AUD_PATTERNS, _synth_pattern_wav
        from doctor_spark.kernels.audio import parse_wav

        for p in (0, 11, 39):
            hashes = {
                afp64(parse_wav(_synth_pattern_wav(d))[1])
                for d in (p, p + _AUD_PATTERNS, p + 9 * _AUD_PATTERNS)
            }
            assert len(hashes) == 1, p

    def test_all_40_patterns_distinct(self):
        from doctor_spark.queries.media import _AUD_PATTERNS, _synth_pattern_wav
        from doctor_spark.kernels.audio import parse_wav

        hashes = [
            afp64(parse_wav(_synth_pattern_wav(p))[1])
            for p in range(_AUD_PATTERNS)
        ]
        assert len(set(hashes)) == _AUD_PATTERNS


class TestOperators:
    def test_clusters_and_undecodable_excluded(self, spark):
        from doctor_spark.queries.media import _synth_pattern_wav
        from doctor_spark.operators.audiodup import audio_dup_clusters

        rows = [(i, _synth_pattern_wav(i % 3)) for i in range(9)]
        rows.append((99, b"RIFFgarbage"))
        rows.append((100, None))
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {
            r["rep_id"]: r["n_clips"] for r in audio_dup_clusters(df).collect()
        }
        assert got == {0: 3, 1: 3, 2: 3}

    def test_near_pairs_banded(self, spark):
        from doctor_spark.kernels.audio import write_wav
        from doctor_spark.operators.audiodup import audio_near_pairs

        flat = np.full(65, 100)
        bump = flat.copy()
        bump[5] = 300
        far = np.arange(65) * 10 + 1
        df = spark.createDataFrame(
            [
                (1, write_wav(8000, _clip(flat))),
                (2, write_wav(8000, _clip(flat))),
                (3, write_wav(8000, _clip(bump))),
                (4, write_wav(8000, _clip(far))),
            ],
            "media_id long, payload binary",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in audio_near_pairs(df, max_hamming=3).collect()
        }
        assert pairs == {(1, 2): 0, (1, 3): 1, (2, 3): 1}

    def test_cluster_plan_one_exchange(self, spark):
        from doctor_spark.queries.media import _synth_pattern_wav
        from doctor_spark.operators.audiodup import audio_dup_clusters

        df = spark.createDataFrame(
            [(i, _synth_pattern_wav(i)) for i in range(16)],
            "media_id long, payload binary",
        )
        out = audio_dup_clusters(df)
        out.collect()
        final = (
            out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        import re

        assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
        assert final.count("ArrowEvalPython") == 1
        assert "partial_" in final
