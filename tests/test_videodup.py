"""Perceptual video dedup: vhash64 kernel algebra, synthesis guarantees,
and the cluster / near-pair operators over the frame-stack codec."""

import numpy as np
import pytest

from doctor_spark.kernels.imagehash import dhash64, hamming64, vhash64


def _stack(grid: np.ndarray, n: int = 4) -> np.ndarray:
    frame = np.repeat(np.repeat(grid.astype(np.uint8), 8, 0), 8, 1)
    return np.repeat(frame[None, :, :], n, axis=0)


class TestVhashKernel:
    def test_equals_dhash_of_mean_frame(self):
        rng = np.random.RandomState(5)
        grid = rng.randint(0, 250, (8, 9)).astype(np.uint8)
        stack = _stack(grid)
        assert vhash64(stack) == dhash64(stack[0])

    def test_frame_order_invariant(self):
        rng = np.random.RandomState(9)
        frames = rng.randint(0, 256, (6, 64, 72)).astype(np.uint8)
        assert vhash64(frames) == vhash64(frames[::-1])

    def test_uniform_retiming_invariant(self):
        rng = np.random.RandomState(2)
        frames = rng.randint(0, 256, (4, 64, 72)).astype(np.uint8)
        doubled = np.repeat(frames, 2, axis=0)  # every frame shown twice
        assert vhash64(frames) == vhash64(doubled)

    def test_shape_guard(self):
        with pytest.raises(ValueError):
            vhash64(np.zeros((64, 72), np.uint8))
        with pytest.raises(ValueError):
            vhash64(np.zeros((0, 64, 72), np.uint8))


class TestEntrySynthesisGuarantees:
    def test_noise_invariance_across_docs(self):
        from doctor_spark.queries.media import _VID_PATTERNS, _synth_pattern_video
        from doctor_spark.operators.multimodal import decode_video

        for p in (0, 13, 29):
            hashes = {
                vhash64(decode_video(_synth_pattern_video(d)))
                for d in (p, p + _VID_PATTERNS, p + 7 * _VID_PATTERNS)
            }
            assert len(hashes) == 1, p

    def test_all_30_patterns_distinct(self):
        from doctor_spark.queries.media import _VID_PATTERNS, _synth_pattern_video
        from doctor_spark.operators.multimodal import decode_video

        hashes = [
            vhash64(decode_video(_synth_pattern_video(p)))
            for p in range(_VID_PATTERNS)
        ]
        assert len(set(hashes)) == _VID_PATTERNS


class TestOperators:
    def test_clusters_and_undecodable_excluded(self, spark):
        from doctor_spark.queries.media import _synth_pattern_video
        from doctor_spark.operators.videodup import video_dup_clusters

        rows = [(i, _synth_pattern_video(i % 2)) for i in range(8)]
        rows.append((99, b"garbage"))
        rows.append((100, None))
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        got = {
            r["rep_id"]: r["n_clips"] for r in video_dup_clusters(df).collect()
        }
        assert got == {0: 4, 1: 4}

    def test_near_pairs_banded(self, spark):
        from doctor_spark.operators.multimodal import encode_video
        from doctor_spark.operators.videodup import video_near_pairs

        flat = np.full((8, 9), 100, np.uint8)
        bump = flat.copy()
        bump[2, 3] = 220
        far = (np.arange(72).reshape(8, 9) * 3).astype(np.uint8)
        df = spark.createDataFrame(
            [
                (1, encode_video(_stack(flat))),
                (2, encode_video(_stack(flat, n=6))),  # retimed copy
                (3, encode_video(_stack(bump))),
                (4, encode_video(_stack(far))),
            ],
            "media_id long, payload binary",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in video_near_pairs(df, max_hamming=3).collect()
        }
        assert pairs == {(1, 2): 0, (1, 3): 1, (2, 3): 1}

    def test_cluster_plan_one_exchange(self, spark):
        from doctor_spark.queries.media import _synth_pattern_video
        from doctor_spark.operators.videodup import video_dup_clusters

        df = spark.createDataFrame(
            [(i, _synth_pattern_video(i)) for i in range(12)],
            "media_id long, payload binary",
        )
        out = video_dup_clusters(df)
        out.collect()
        final = (
            out._jdf.queryExecution().executedPlan().toString()
            .split("== Initial Plan ==")[0]
        )
        import re

        assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
        assert final.count("ArrowEvalPython") == 1
        assert "partial_" in final
