"""Perceptual image dedup: dHash kernel algebra, the noise-invariance /
pattern-distinctness guarantees the driver oracle rests on, and the
cluster / banded near-pair operators."""

import numpy as np
import pytest

from doctor_spark.kernels.imagehash import dhash64, hamming64


def _upscale(grid: np.ndarray, block: int = 8) -> np.ndarray:
    return np.repeat(np.repeat(grid.astype(np.uint8), block, 0), block, 1)


class TestDhashKernel:
    def test_monotone_ramp_is_all_ones(self):
        grid = (np.arange(72).reshape(8, 9) * 2 + 10).astype(np.uint8)
        assert dhash64(_upscale(grid)) == -1  # 64 one-bits, signed int64

    def test_uniform_is_zero(self):
        assert dhash64(np.full((64, 72), 77, np.uint8)) == 0

    def test_brightness_shift_invariant(self):
        rng = np.random.RandomState(7)
        grid = rng.randint(0, 200, (8, 9)).astype(np.uint8)
        img = _upscale(grid)
        assert dhash64(img) == dhash64(img + 50)

    def test_single_comparison_flip_is_one_bit(self):
        grid = np.full((8, 9), 100, np.uint8)
        h0 = dhash64(_upscale(grid))
        grid2 = grid.copy()
        # raising (3,5) flips comparison (3,4)->(3,5) to True; the
        # (3,5)->(3,6) comparison stays False ("not greater" both ways)
        grid2[3, 5] = 200
        h1 = dhash64(_upscale(grid2))
        assert hamming64(h0, h1) == 1

    def test_rgb_and_alpha(self):
        gray = np.full((16, 18), 90, np.uint8)
        rgb = np.stack([gray, gray, gray], axis=2)
        rgba = np.dstack([rgb, np.zeros((16, 18), np.uint8)])
        assert dhash64(gray) == dhash64(rgb) == dhash64(rgba)

    def test_small_image_fallback(self):
        # h < 8 / w < 9 exercises the nearest-neighbor fallback
        assert isinstance(dhash64(np.arange(12, dtype=np.uint8).reshape(3, 4)), int)
        with pytest.raises(ValueError):
            dhash64(np.zeros((0, 5), np.uint8))

    def test_resize_invariance(self):
        # the perceptual property: 2x block upscaling keeps the hash
        rng = np.random.RandomState(3)
        grid = (rng.randint(0, 8, (8, 9)) * 32 + 8).astype(np.uint8)
        assert dhash64(_upscale(grid, 8)) == dhash64(_upscale(grid, 16))


class TestEntrySynthesisGuarantees:
    """The image_dup_clusters oracle is doc_id arithmetic ONLY because
    (a) per-document noise never moves a dHash cell mean and (b) the 50
    pattern hashes are pairwise distinct.  Pin both."""

    def test_noise_invariance_across_docs(self):
        from doctor_spark.queries.media import _IMG_PATTERNS, _synth_pattern_png
        from doctor_spark.kernels.png import decode_png

        for p in (0, 7, 49):
            hashes = {
                dhash64(decode_png(_synth_pattern_png(d)))
                for d in (p, p + _IMG_PATTERNS, p + 13 * _IMG_PATTERNS)
            }
            assert len(hashes) == 1, p

    def test_all_50_patterns_distinct(self):
        from doctor_spark.queries.media import _IMG_PATTERNS, _synth_pattern_png
        from doctor_spark.kernels.png import decode_png

        hashes = [
            dhash64(decode_png(_synth_pattern_png(p)))
            for p in range(_IMG_PATTERNS)
        ]
        assert len(set(hashes)) == _IMG_PATTERNS


class TestOperators:
    def test_clusters_and_undecodable_excluded(self, spark):
        from doctor_spark.queries.media import _synth_pattern_png
        from doctor_spark.operators.imagedup import image_dup_clusters

        rows = [(i, _synth_pattern_png(i % 3)) for i in range(12)]
        rows.append((99, b"not an image"))
        rows.append((100, None))
        df = spark.createDataFrame(rows, "media_id long, payload binary")
        out = image_dup_clusters(df).collect()
        got = {r["rep_id"]: r["n_images"] for r in out}
        assert got == {0: 4, 1: 4, 2: 4}

    def test_near_pairs_banded(self, spark):
        from doctor_spark.kernels.png import encode_png
        from doctor_spark.operators.imagedup import image_near_pairs

        base = np.full((8, 9), 100, np.uint8)
        variant = base.copy()
        variant[0, 1] = 200  # flips the (0,0)->(0,1) comparison only
        far = (np.arange(72).reshape(8, 9) * 2).astype(np.uint8)
        df = spark.createDataFrame(
            [
                (1, encode_png(_upscale(base))),
                (2, encode_png(_upscale(base))),
                (3, encode_png(_upscale(variant))),
                (4, encode_png(_upscale(far))),
            ],
            "media_id long, payload binary",
        )
        pairs = {
            (r["id_a"], r["id_b"]): r["hamming"]
            for r in image_near_pairs(df, max_hamming=3).collect()
        }
        assert pairs == {(1, 2): 0, (1, 3): 1, (2, 3): 1}

    def test_near_pairs_guards(self, spark):
        from doctor_spark.operators.imagedup import image_near_pairs

        df = spark.createDataFrame([(1, b"")], "media_id long, payload binary")
        with pytest.raises(ValueError):
            image_near_pairs(df, max_hamming=4, n_bands=4)
        with pytest.raises(ValueError):
            image_near_pairs(df, n_bands=5)

    def test_cluster_plan_one_exchange(self, spark):
        """decode+hash is one Arrow map stage; clusters cost ONE keyed
        exchange with map-side partial aggregation below it."""
        from doctor_spark.queries.media import _synth_pattern_png
        from doctor_spark.operators.imagedup import image_dup_clusters

        df = spark.createDataFrame(
            [(i, _synth_pattern_png(i)) for i in range(20)],
            "media_id long, payload binary",
        )
        out = image_dup_clusters(df)
        out.collect()
        plan = out._jdf.queryExecution().executedPlan().toString()
        final = plan.split("== Initial Plan ==")[0]
        import re

        assert len(re.findall(r"Exchange hashpartitioning", final)) == 1
        assert final.count("ArrowEvalPython") == 1
        assert "partial_" in final  # map-side combine before the shuffle
