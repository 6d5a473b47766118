"""Pure-numpy pixel-level primitives.

The reference implements these with OpenCV (``cv2.boxFilter`` /
``cv2.sqrBoxFilter`` / ``cv2.erode``) and rasterio (``warp.reproject``,
``fill.fillnodata``).  Neither library is a dependency here: every primitive
is re-derived in numpy with identical zero-border semantics, using integral
images (exact, O(HW) independent of kernel size — the numpy analogue of the
reference's DFT-for-large-kernels note at
``/root/reference/homonim/kernel_model.py:51-53``).

These run *inside* Arrow-batched pandas UDFs only — never on the driver for
real data.
"""

from __future__ import annotations

from typing import Tuple

import numpy as np


def box_sum(arr: np.ndarray, kernel_shape: Tuple[int, int]) -> np.ndarray:
    """Unnormalized sliding-window sum with constant-zero borders.

    Semantics match ``cv2.boxFilter(arr, -1, ksize, normalize=False,
    borderType=cv2.BORDER_CONSTANT)`` as used throughout the reference
    (``/root/reference/homonim/kernel_model.py:255-258,331-342``): the kernel
    is centered (odd shapes only — enforced upstream like the reference's
    ``utils.validate_kernel_shape``), pixels outside the array count as 0.

    Accumulates in float64 (integral image) and returns float32.  The
    integral image is taken over the array zero-padded by the kernel, so
    every window sum is four plain slices (no index gathers); the padding
    only adds exact zeros, so the sums equal those of the unpadded image
    read at clipped indices.
    """
    kh, kw = int(kernel_shape[0]), int(kernel_shape[1])
    if kh == 1 and kw == 1:
        return arr.astype(np.float32, copy=True)
    h, w = arr.shape
    ph, pw = kh // 2, kw // 2
    ii = np.zeros((h + kh + 1, w + kw + 1), dtype=np.float64)
    ii[1 + ph:1 + ph + h, 1 + pw:1 + pw + w] = arr
    np.cumsum(ii, axis=0, out=ii)
    np.cumsum(ii, axis=1, out=ii)
    out = ii[kh:kh + h, kw:kw + w] - ii[:h, kw:kw + w]
    out -= ii[kh:kh + h, :w]
    out += ii[:h, :w]
    return out.astype(np.float32)


def sqr_box_sum(arr: np.ndarray, kernel_shape: Tuple[int, int]) -> np.ndarray:
    """``cv2.sqrBoxFilter`` analogue: sliding sum of squares, zero border."""
    return box_sum(arr * arr, kernel_shape)


def erode_rect(mask: np.ndarray, se_shape: Tuple[int, int]) -> np.ndarray:
    """Binary erosion by a centered rectangular structuring element with
    constant-zero border — matches ``cv2.erode(mask, MORPH_RECT(se),
    borderType=BORDER_CONSTANT, borderValue=0)`` as used by the reference's
    full-coverage (partial) masking
    (``/root/reference/homonim/kernel_model.py:407-408``).

    A pixel survives iff every pixel under the SE is 1 — i.e. the box sum of
    the 0/1 mask equals the SE area.
    """
    sh, sw = int(se_shape[0]), int(se_shape[1])
    s = box_sum(mask.astype(np.float32), (sh, sw))
    return (s >= (sh * sw) - 0.5).astype(np.uint8)


def downsample_average(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """Integer-factor block-mean downsample with NaN-aware averaging.

    At the engine's canonical aligned grids this is exactly rasterio's
    ``Resampling.average`` with nodata=NaN (the reference's default
    downsampling, ``/root/reference/homonim/kernel_model.py:100``): nodata
    pixels are excluded from the mean; all-nodata blocks stay NaN.
    """
    fh, fw = int(factor[0]), int(factor[1])
    if fh == 1 and fw == 1:
        return arr.astype(np.float32, copy=True)
    h, w = arr.shape[-2:]
    assert h % fh == 0 and w % fw == 0, "tile not divisible by resample factor"
    # strided slice-adds instead of reshape+float64 nansum: ~4x less memory
    # traffic (the fuse group stage is bandwidth-bound); f² ≤ ~16 float32
    # adds per output pixel lose no precision that matters here
    valid = ~np.isnan(arr)
    v = np.where(valid, arr, np.float32(0.0))
    shape = arr.shape[:-2] + (h // fh, w // fw)
    tot = np.zeros(shape, dtype=np.float32)
    cnt = np.zeros(shape, dtype=np.float32)
    for i in range(fh):
        for j in range(fw):
            tot += v[..., i::fh, j::fw]
            cnt += valid[..., i::fh, j::fw]
    out = np.full(shape, np.nan, dtype=np.float32)
    np.divide(tot, cnt, out=out, where=cnt > 0)
    return out


def block_mean(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """Plain block mean (nodata-naive) — used for mask coverage fractions,
    mirroring the reference's mask reproject with ``nodata=None`` +
    ``Resampling.average`` (``/root/reference/homonim/kernel_model.py:396-399``)."""
    fh, fw = int(factor[0]), int(factor[1])
    h, w = arr.shape
    out = np.zeros((h // fh, w // fw), dtype=np.float32)
    for i in range(fh):
        for j in range(fw):
            out += arr[i::fh, j::fw]
    out /= np.float32(fh * fw)
    return out


def upsample_nearest(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """Integer-factor nearest upsample (Kronecker).

    DOCUMENTED DEVIATION: the reference upsamples parameters with
    ``Resampling.cubic_spline`` by default
    (``/root/reference/homonim/kernel_model.py:101``).  On the engine's
    aligned grids with spatially-smooth parameters the difference is well
    inside the reference's own test tolerances (abs 2 on corrected values,
    ``tests/test_fuse_api.py:114``); nearest is deterministic, exact at
    identity, and has no halo requirement.  A bilinear variant is provided
    below for smoother parameter fields.

    Like every upsampler here it resamples the last two axes, so a stack
    of planes goes through in one call.
    """
    fh, fw = int(factor[0]), int(factor[1])
    if fh == 1 and fw == 1:
        return arr.astype(np.float32, copy=True)
    h, w = arr.shape[-2:]
    out = np.empty(arr.shape[:-2] + (h * fh, w * fw), dtype=np.float32)
    for i in range(fh):  # strided assigns: ~10x faster than np.kron
        for j in range(fw):
            out[..., i::fh, j::fw] = arr
    return out


def upsample_bilinear(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """Integer-factor bilinear upsample on pixel-center alignment (edge
    clamped). NaN propagates through interpolation like rasterio.

    Separable phase decomposition: for integer factors the interpolation
    weights repeat with period f, so the whole upsample is fh row passes +
    fh·fw strided column blends of float32 views — no fancy indexing, no
    float64 temporaries (the float64 ``np.ix_`` formulation measured ~2.5×
    slower on the fuse group stage; this is the hot apply path)."""
    fh, fw = int(factor[0]), int(factor[1])
    if fh == 1 and fw == 1:
        return arr.astype(np.float32, copy=True)
    h, w = arr.shape[-2:]
    a = np.ascontiguousarray(arr, dtype=np.float32)
    out = np.empty(arr.shape[:-2] + (h * fh, w * fw), dtype=np.float32)

    def phase(f: int, i: int):
        """(pair_offset, weight): output phase i interpolates input k+off →
        k+off+1 with this weight (edge handled by clamped shifts)."""
        o = (i + 0.5) / f - 0.5
        return (-1, np.float32(1.0 + o)) if o < 0 else (0, np.float32(o))

    for i in range(fh):
        roff, wy = phase(fh, i)
        if roff < 0:
            r0 = _shift_rows(a, -1)   # clamped up-shift
            r1 = a
        else:
            r0 = a
            r1 = _shift_rows(a, 1)    # clamped down-shift
        ri = r0 * (np.float32(1.0) - wy) + r1 * wy if wy != 0 else r0
        for j in range(fw):
            coff, wx = phase(fw, j)
            if coff < 0:
                c0 = _shift_cols(ri, -1)
                c1 = ri
            else:
                c0 = ri
                c1 = _shift_cols(ri, 1)
            out[..., i::fh, j::fw] = (c0 * (np.float32(1.0) - wx) + c1 * wx
                                      if wx != 0 else c0)
    return out


def _upsample_masked(arr: np.ndarray, factor: Tuple[int, int], up,
                     guard: float) -> np.ndarray:
    """NaN-safe integer-factor upsample with interpolator ``up``
    (normalized convolution): NaN inputs get zero weight instead of eating a
    ring of valid output, and validity follows the *nearest* input pixel,
    as the reference masks reprojected params by the proc-grid mask
    (``kernel_model.py:138-140,396-409``).  Output
    is NaN where |weight sum| ≤ ``guard`` (signed kernels need more).

    ``arr`` is one plane or a stack of planes (gain, offset).  Planes that
    share one NaN mask share its validity weights and nearest-validity
    mask, computed once; a stack whose masks differ is upsampled plane by
    plane, so each plane's result never depends on the others."""
    fh, fw = int(factor[0]), int(factor[1])
    if fh == 1 and fw == 1:
        return arr.astype(np.float32, copy=True)
    valid = ~np.isnan(arr)
    if valid.all():
        return up(arr, factor)  # fast path: the common interior-chunk case
    if arr.ndim > 2:
        if not (valid == valid[:1]).all():
            return np.stack([_upsample_masked(p, factor, up, guard) for p in arr])
        valid = valid[0]
    num = up(np.where(valid, arr, np.float32(0.0)).astype(np.float32, copy=False), factor)
    den = up(valid.astype(np.float32), factor)
    keep = np.abs(den) > np.float32(guard)
    keep &= upsample_nearest(valid.astype(np.float32), factor) >= 0.5
    out = np.full(num.shape, np.nan, dtype=np.float32)
    np.divide(num, den, out=out, where=keep)
    return out


def upsample_bilinear_masked(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """NaN-safe bilinear upsample (see :func:`_upsample_masked`)."""
    return _upsample_masked(arr, factor, upsample_bilinear, 1e-6)


def _shift_rows(a: np.ndarray, s: int) -> np.ndarray:
    """result[k] = a[clamp(k+s)] (edge-replicate shift along axis -2)."""
    if s == 0:
        return a
    if s > 0:
        return np.concatenate([a[..., s:, :], np.repeat(a[..., -1:, :], s, axis=-2)], axis=-2)
    return np.concatenate([np.repeat(a[..., :1, :], -s, axis=-2), a[..., :s, :]], axis=-2)


def _shift_cols(a: np.ndarray, s: int) -> np.ndarray:
    """result[..., k] = a[..., clamp(k+s)] (edge-replicate shift along axis -1)."""
    if s == 0:
        return a
    if s > 0:
        return np.concatenate([a[..., s:], np.repeat(a[..., -1:], s, axis=-1)], axis=-1)
    return np.concatenate([np.repeat(a[..., :1], -s, axis=-1), a[..., :s]], axis=-1)


def _catmull_rom(d: np.ndarray) -> np.ndarray:
    """Cubic-convolution kernel at distances ``d`` (a = −0.5, the
    Catmull-Rom spline — interpolating, reproduces linears exactly);
    0 at |d| ≥ 2."""
    at = np.abs(d)
    out = np.zeros_like(d, dtype=np.float64)
    m1 = at < 1
    m2 = ~m1 & (at < 2)
    out[m1] = 1.5 * at[m1] ** 3 - 2.5 * at[m1] ** 2 + 1.0
    out[m2] = -0.5 * at[m2] ** 3 + 2.5 * at[m2] ** 2 - 4.0 * at[m2] + 2.0
    return out


def _lanczos3(d: np.ndarray) -> np.ndarray:
    """Lanczos-3 kernel sinc(d)·sinc(d/3) at distances ``d``; 0 at
    |d| ≥ 3.  Lanczos-3 matches GDAL's ``Resampling.lanczos``."""
    out = np.zeros_like(d, dtype=np.float64)
    m = np.abs(d) < 3
    out[m] = np.sinc(d[m]) * np.sinc(d[m] / 3)
    return out


#: separable resampling kernels: name → (support radius r in px, kernel of
#: distance); a sample reads the 2r input px at offsets 1 − r .. r
KERNELS = {"cubic": (2, _catmull_rom), "lanczos": (3, _lanczos3)}


def _upsample_separable(arr: np.ndarray, factor: Tuple[int, int],
                        kind: str) -> np.ndarray:
    """Integer-factor separable upsample with ``KERNELS[kind]``, pixel-center
    aligned, edge replicated: at fraction t the taps m = 0..2r−1 sit at
    input offset floor + m − (r − 1) and weigh kernel(t + r − 1 − m),
    normalized to sum 1 (the partition-of-unity correction a windowed sinc
    needs).  Weights repeat with period f (as in :func:`upsample_bilinear`),
    so a pass is 2r clamped shifts per phase."""
    fh, fw = int(factor[0]), int(factor[1])
    if fh == 1 and fw == 1:
        return arr.astype(np.float32, copy=True)
    h, w = arr.shape[-2:]
    a = np.ascontiguousarray(arr, dtype=np.float32)
    out = np.empty(arr.shape[:-2] + (h * fh, w * fw), dtype=np.float32)
    r, kernel = KERNELS[kind]
    lo = 1 - r

    def weights(t: float) -> np.ndarray:
        wt = kernel(t - (lo + np.arange(2 * r)))
        return (wt / wt.sum()).astype(np.float32)

    def phase(f: int, i: int):
        o = (i + 0.5) / f - 0.5
        b = int(np.floor(o))
        return b, o - b

    row_cache = {}
    for i in range(fh):
        br, ty = phase(fh, i)
        wy = weights(ty)
        ri = row_cache.get((br, round(ty, 12)))
        if ri is None:
            ri = sum(wy[m] * _shift_rows(a, br + lo + m) for m in range(len(wy)))
            row_cache[(br, round(ty, 12))] = ri
        for j in range(fw):
            bc, tx = phase(fw, j)
            wx = weights(tx)
            out[..., i::fh, j::fw] = sum(
                wx[m] * _shift_cols(ri, bc + lo + m) for m in range(len(wx)))
    return out


def upsample_cubic(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """Catmull-Rom upsample — the analogue of the reference's default
    ``Resampling.cubic_spline`` param upsampling (``kernel_model.py:101``)."""
    return _upsample_separable(arr, factor, "cubic")


def upsample_lanczos(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """Lanczos-3 upsample — the reference's sharpest resampling option,
    ``Resampling.lanczos`` (``raster_array.py:526-578``)."""
    return _upsample_separable(arr, factor, "lanczos")


def upsample_cubic_masked(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """NaN-safe cubic upsample (see :func:`_upsample_masked`)."""
    return _upsample_masked(arr, factor, upsample_cubic, 1e-3)


def upsample_lanczos_masked(arr: np.ndarray, factor: Tuple[int, int]) -> np.ndarray:
    """NaN-safe Lanczos-3 upsample (see :func:`_upsample_masked`)."""
    return _upsample_masked(arr, factor, upsample_lanczos, 1e-3)


#: input px each param upsampler reads on either side (models.chunk_halo)
PARAM_CONTEXT = {"nearest": 0, "bilinear": 1, "cubic": 2, "lanczos": 3}


def param_upsampler(name: str):
    """proc→src parameter upsampling dispatch (``KernelModelParams.
    param_interp``): nearest (exact/fast), bilinear (NaN-safe smooth
    default), cubic (Catmull-Rom — the reference's cubic-spline analogue),
    lanczos (Lanczos-3).  Each reads :data:`PARAM_CONTEXT` px around a
    pixel, which the chunk halo supplies at any kernel size."""
    return {"nearest": upsample_nearest,
            "bilinear": upsample_bilinear_masked,
            "cubic": upsample_cubic_masked,
            "lanczos": upsample_lanczos_masked}[name]


def to_grid(arr: np.ndarray, from_scale: int, to_scale: int,
            up=upsample_bilinear) -> np.ndarray:
    """Move ``arr`` between aligned grids (scales in px per common coarse
    px): as is, :func:`downsample_average` onto coarser, ``up`` onto finer."""
    if to_scale == from_scale:
        return arr
    if to_scale < from_scale:
        f = from_scale // to_scale
        return downsample_average(arr, (f, f))
    f = to_scale // from_scale
    return up(arr, (f, f))


def coverage_to_grid(mask: np.ndarray, from_scale: int, to_scale: int) -> np.ndarray:
    """:func:`to_grid` for a boolean coverage mask: a coarse pixel is covered
    iff all its fine pixels are (block mean ≥ 1, ``kernel_model.py:396-399``);
    a fine pixel takes its coarse pixel's coverage."""
    if to_scale == from_scale:
        return mask
    m = mask.astype(np.float32)
    if to_scale < from_scale:
        f = from_scale // to_scale
        return block_mean(m, (f, f)) >= 1
    f = to_scale // from_scale
    return upsample_nearest(m, (f, f)) >= 0.5


def fill_nodata(arr: np.ndarray, valid_mask: np.ndarray,
                max_search: int = 100) -> np.ndarray:
    """Inverse-distance-weighted fill of pixels where ``valid_mask`` is
    False, matching the semantics of rasterio/GDAL ``fillnodata`` that the
    reference uses for offset inpainting
    (``/root/reference/homonim/kernel_model.py:366``): each nodata pixel
    takes the 1/distance-weighted average of the nearest valid pixel in
    each of the four axis directions within ``max_search`` px (GDAL's
    default search distance; smoothing_iterations=0, the reference's
    call).  Four vectorized scanline passes — O(h·w), no iteration to a
    fixed point (the previous nearest-front mean fill was a documented
    deviation; this removes it).  Pixels with no valid pixel in reach keep
    their input value, like GDAL."""
    out = arr.astype(np.float32, copy=True)
    h, w = arr.shape
    v = np.where(valid_mask, arr.astype(np.float64), np.nan)
    vsum = np.zeros((h, w))
    wsum = np.zeros((h, w))

    def accumulate(val, dist):
        ok = (dist > 0) & (dist <= max_search) & ~np.isnan(val)
        wgt = np.where(ok, 1.0 / np.where(ok, dist, 1.0), 0.0)
        np.add(vsum, np.where(ok, wgt * val, 0.0), out=vsum)
        np.add(wsum, wgt, out=wsum)

    for axis, reverse in ((1, False), (1, True), (0, False), (0, True)):
        val = np.full((h, w), np.nan)
        dist = np.full((h, w), np.inf)
        n_lines = w if axis == 1 else h
        other = h if axis == 1 else w
        last_val = np.full(other, np.nan)
        last_d = np.full(other, np.inf)
        idx = range(n_lines - 1, -1, -1) if reverse else range(n_lines)
        for i in idx:
            line_valid = valid_mask[:, i] if axis == 1 else valid_mask[i]
            line_v = v[:, i] if axis == 1 else v[i]
            last_d = last_d + 1
            last_val = np.where(line_valid, line_v, last_val)
            last_d = np.where(line_valid, 0.0, last_d)
            if axis == 1:
                val[:, i] = last_val
                dist[:, i] = last_d
            else:
                val[i] = last_val
                dist[i] = last_d
        accumulate(val, dist)

    fill = (~valid_mask) & (wsum > 0)
    out[fill] = (vsum[fill] / wsum[fill]).astype(np.float32)
    return out
