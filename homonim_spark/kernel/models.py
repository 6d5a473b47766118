"""Kernel models: sliding-window least-squares surface-reflectance fits.

Numerical semantics replicate the reference's ``KernelModel``
(``/root/reference/homonim/kernel_model.py``) including order of operations
(mask-zeroing before kernel sums, in-place normalisation for
gain-blk-offset, R² thresholding + offset inpainting + gain re-solve).
All functions are plain numpy over 2-D float32 arrays with NaN nodata and
run inside Arrow-batched pandas UDFs — the distributed layer
(halo exchange, join, regroup) lives in ``homonim_spark.operators.fuse``.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional, Tuple

import numpy as np

from homonim_spark.enums import ConfigError, Model
from homonim_spark.kernel import ops

NDArray = np.ndarray


@dataclass(frozen=True)
class KernelModelParams:
    """Run configuration (reference ``KernelModel.create_config``,
    ``kernel_model.py:98-136`` + kernel validation ``utils.py:104-133``)."""

    model: Model = Model.gain_blk_offset
    kernel_shape: Tuple[int, int] = (5, 5)
    find_r2: bool = False
    r2_inpaint_thresh: Optional[float] = 0.25
    mask_partial: bool = False
    #: sigma-clipped masking (north_star; no reference analogue): pixels
    #: whose residual against the fitted model exceeds this many block-level
    #: standard deviations are masked and the model refit. None = off.
    sigma_clip: Optional[float] = None
    sigma_clip_iters: int = 2
    #: proc→src parameter upsampling for the ref-space apply path.  The
    #: reference defaults to ``Resampling.cubic_spline``
    #: (``kernel_model.py:101,138-140``); the engine's smooth-interpolation
    #: analogue is a NaN-safe bilinear (DOCUMENTED DEVIATION — within the
    #: reference's own abs-2 corrected-value tolerance).  ``"nearest"`` is
    #: the opt-in exact/fast path; ``"cubic"`` (Catmull-Rom) is the closest
    #: analogue of the reference default; ``"lanczos"`` (Lanczos-3) is the
    #: sharpest rasterio option the reference exposes.  The chunk halo
    #: grows with the upsampler's context (:func:`chunk_halo`), so every
    #: value is chunk-invariant at any kernel size.
    param_interp: str = "bilinear"

    def __post_init__(self):
        if self.param_interp not in ("bilinear", "nearest", "cubic",
                                     "lanczos"):
            raise ConfigError(
                "`param_interp` must be 'bilinear', 'nearest', 'cubic' "
                "or 'lanczos'")
        kh, kw = self.kernel_shape
        if kh % 2 != 1 or kw % 2 != 1:
            raise ConfigError("`kernel_shape` must be odd in both dimensions.")
        if kh < 1 or kw < 1:
            raise ConfigError("`kernel_shape` must be a minimum of one in both dimensions.")
        if Model(self.model) == Model.gain_offset and kh * kw < 2:
            raise ConfigError(
                "`kernel_shape` area should contain at least 2 elements for the gain-offset model."
            )


def chunk_halo(params: KernelModelParams) -> Tuple[int, int]:
    """Chunk halo per dim (the reference's block overlap, ``utils.py:
    136-153``, is ceil(k/2)): the kernel's reach k//2 plus the px of exact
    params the upsampler reads past the interior (at least 1, so ceil(k/2)
    for nearest and bilinear) — chunked == whole-image for every interp."""
    ctx = max(1, ops.PARAM_CONTEXT[params.param_interp])
    return params.kernel_shape[0] // 2 + ctx, params.kernel_shape[1] // 2 + ctx


def _combined_mask(src: NDArray, ref: NDArray) -> NDArray:
    """Valid where both source and reference are valid
    (reference ``kernel_model.py:245``)."""
    return ~np.isnan(src) & ~np.isnan(ref)


def _r2_array(
    ref_array: NDArray,
    src_array: NDArray,
    param_array: NDArray,
    mask: NDArray,
    kernel_shape: Tuple[int, int],
    mask_sum: Optional[NDArray] = None,
    ref_sum: Optional[NDArray] = None,
    src_sum: Optional[NDArray] = None,
    src2_sum: Optional[NDArray] = None,
    src_ref_sum: Optional[NDArray] = None,
) -> NDArray:
    """R² (coefficient of determination) per kernel location.

    Expansion of R² = 1 − RSS/TSS into kernel sums, term-for-term the
    reference's ``KernelModel._r2_array``
    (``/root/reference/homonim/kernel_model.py:142-214``); reuses any
    precomputed sums (the reference's kwargs-CSE pattern).
    ``src_array``/``ref_array`` must already be zeroed where masked.
    """
    if mask_sum is None:
        mask_sum = ops.box_sum(mask.astype(np.float32), kernel_shape)
    if ref_sum is None:
        ref_sum = ops.box_sum(ref_array, kernel_shape)
    ref2_sum = ops.sqr_box_sum(ref_array, kernel_shape)
    if src2_sum is None:
        src2_sum = ops.sqr_box_sum(src_array, kernel_shape)
    if src_ref_sum is None:
        src_ref_sum = ops.box_sum(src_array * ref_array, kernel_shape)

    ss_tot = (mask_sum * ref2_sum) - (ref_sum ** 2)

    if param_array.shape[0] > 1:
        # gain-offset RSS expansion (reference kernel_model.py:189-195)
        if src_sum is None:
            src_sum = ops.box_sum(src_array, kernel_shape)
        g, c = param_array[0], param_array[1]
        ss_res = (
            (g ** 2) * src2_sum
            + 2 * (g * c) * src_sum
            - 2 * g * src_ref_sum
            - 2 * c * ref_sum
            + ref2_sum
            + mask_sum * (c ** 2)
        )
    else:
        # gain / gain-blk-offset RSS expansion (reference kernel_model.py:201)
        g = param_array[0]
        ss_res = (g ** 2) * src2_sum - 2 * g * src_ref_sum + ref2_sum

    ss_res = ss_res * mask_sum

    dest = np.full(src_array.shape, np.nan, dtype=np.float32)
    np.divide(ss_res, ss_tot, out=dest, where=mask)
    np.subtract(1, dest, out=dest, where=mask)
    return dest


def fit_block_norm(src: NDArray, ref: NDArray) -> np.ndarray:
    """Block 'normalisation' model [gain, offset]: match std and 1st
    percentile of src to ref — the reference's DOS-style block model
    (``/root/reference/homonim/kernel_model.py:216-229``).

    NOTE on block scope: the reference computes this over a *processing
    block* (in-block incl. overlap); the engine's block is the assembled
    tile + halo — deterministic for a fixed tile grid (SURVEY.md §7 risk
    register: block-scoped statistics).
    """
    norm = np.zeros(2)
    mask = _combined_mask(src, ref)
    if not mask.any():
        return norm
    sv = src[mask]
    rv = ref[mask]
    norm[0] = np.std(rv) / np.std(sv)
    norm[1] = np.percentile(rv, 1) - np.percentile(sv, 1) * norm[0]
    return norm


def fit_gain(
    src: NDArray, ref: NDArray, kernel_shape: Tuple[int, int], find_r2: bool = False
) -> NDArray:
    """Sliding-kernel gain fit (LS through origin): gain = Σref/Σsrc
    (reference ``kernel_model.py:231-274``). Returns (2|3, H, W) params:
    band0 gain, band1 offset (0 on valid), band2 R² when ``find_r2``.

    Mutates ``src``/``ref`` in place (masked→0) in the reference's order.
    """
    mask = _combined_mask(src, ref)
    ref[~mask] = 0
    src[~mask] = 0

    src_sum = ops.box_sum(src, kernel_shape)
    ref_sum = ops.box_sum(ref, kernel_shape)

    n_bands = 3 if find_r2 else 2
    param = np.full((n_bands,) + src.shape, np.nan, dtype=np.float32)
    param[1, mask] = 0  # offsets are zero for the gain model
    np.divide(ref_sum, src_sum, out=param[0], where=mask)

    if find_r2:
        param[2] = _r2_array(
            ref, src, param[:1], mask=mask, kernel_shape=kernel_shape,
            ref_sum=ref_sum, src_sum=src_sum,
        )
    return param


def fit_gain_blk_offset(
    src: NDArray, ref: NDArray, kernel_shape: Tuple[int, int], find_r2: bool = False
) -> NDArray:
    """Sliding gains + block offset (reference ``kernel_model.py:276-303``):
    normalise src by the block model, fit gains, fold the normalisation back
    (offset = gain·c_norm; gain *= g_norm)."""
    norm = fit_block_norm(src, ref)
    src_norm = (src * np.float32(norm[0])) + np.float32(norm[1])  # NaN propagates (nodata stays nodata)
    param = fit_gain(src_norm, ref, kernel_shape, find_r2=find_r2)
    param[1] = param[0] * np.float32(norm[1])
    param[0] *= np.float32(norm[0])
    return param


def fit_gain_offset(
    src: NDArray,
    ref: NDArray,
    kernel_shape: Tuple[int, int],
    find_r2: bool = False,
    r2_inpaint_thresh: Optional[float] = 0.25,
) -> NDArray:
    """Full per-kernel OLS (reference ``kernel_model.py:305-373``):
    m = (N·Σsr − Σs·Σr)/(N·Σs² − (Σs)²), c = (Σr − m·Σs)/N, with R²
    thresholding + offset inpainting + gain re-solve when
    ``r2_inpaint_thresh`` is set."""
    mask = _combined_mask(src, ref)
    ref[~mask] = 0
    src[~mask] = 0

    need_r2 = find_r2 or (r2_inpaint_thresh is not None)

    src_sum = ops.box_sum(src, kernel_shape)
    ref_sum = ops.box_sum(ref, kernel_shape)
    src_ref_sum = ops.box_sum(src * ref, kernel_shape)
    mask_sum = ops.box_sum(mask.astype(np.float32), kernel_shape)
    m_num = (mask_sum * src_ref_sum) - (src_sum * ref_sum)
    src2_sum = ops.sqr_box_sum(src, kernel_shape)
    m_den = (mask_sum * src2_sum) - (src_sum ** 2)

    n_bands = 3 if need_r2 else 2
    param = np.full((n_bands,) + src.shape, np.nan, dtype=np.float32)
    np.divide(m_num, m_den, out=param[0], where=mask)
    np.divide(ref_sum - (param[0] * src_sum), mask_sum, out=param[1], where=mask)

    if need_r2:
        param[2] = _r2_array(
            ref, src, param[:2], mask=mask, kernel_shape=kernel_shape,
            mask_sum=mask_sum, ref_sum=ref_sum, src_sum=src_sum,
            src2_sum=src2_sum, src_ref_sum=src_ref_sum,
        )

    if r2_inpaint_thresh is not None:
        # inpaint low-R²/negative-gain offsets, then re-solve gains there
        # (reference kernel_model.py:361-371)
        r2_mask = (param[2] > r2_inpaint_thresh) & (param[0] > 0) & mask
        param[1] = ops.fill_nodata(param[1], r2_mask)
        param[1][~mask] = np.nan  # re-mask: fill spreads into nodata areas
        r2_mask = ~r2_mask & mask
        np.divide(ref_sum - mask_sum * param[1], src_sum, out=param[0], where=r2_mask)

    return param


def fit_model(
    src: NDArray, ref: NDArray, params: KernelModelParams
) -> NDArray:
    """Dispatch like the reference's ``KernelModel.fit``
    (``kernel_model.py:411-440``). ``src``/``ref`` are copied (the
    reference mutates callers' arrays; the engine keeps UDF inputs immutable)."""
    if src.shape != ref.shape:
        raise ValueError("'ref' and 'src' must have the same shape")
    model = Model(params.model)

    def fit_once(s: NDArray, r: NDArray) -> NDArray:
        s = s.astype(np.float32, copy=True)
        r = r.astype(np.float32, copy=True)
        # masked divides (np.divide(..., where=mask)) touch invalid lanes by
        # design, exactly like the reference — suppress spurious warnings
        with np.errstate(divide="ignore", invalid="ignore"):
            if model == Model.gain:
                return fit_gain(s, r, params.kernel_shape, params.find_r2)
            if model == Model.gain_blk_offset:
                return fit_gain_blk_offset(s, r, params.kernel_shape, params.find_r2)
            return fit_gain_offset(
                s, r, params.kernel_shape, params.find_r2, params.r2_inpaint_thresh
            )

    param = fit_once(src, ref)
    if params.sigma_clip is not None:
        # sigma-clipped masking (north_star): iteratively reject pixels whose
        # residual against the current local model exceeds k·σ (σ over the
        # block's valid residuals), refit without them. Rejected pixels stay
        # masked in the parameter planes.
        src_c = src.astype(np.float32, copy=True)
        ref_c = ref.astype(np.float32, copy=True)
        for _ in range(max(1, params.sigma_clip_iters)):
            with np.errstate(invalid="ignore"):
                resid = ref_c - (param[0] * src_c + param[1])
            valid = ~np.isnan(resid)
            if not valid.any():
                break
            sigma = float(np.std(resid[valid]))
            if sigma <= 0:
                break
            clip = valid & (np.abs(resid) > params.sigma_clip * sigma)
            if not clip.any():
                break
            src_c[clip] = np.nan
            ref_c[clip] = np.nan
            param = fit_once(src_c, ref_c)
    return param


def apply_model(src: NDArray, param: NDArray) -> NDArray:
    """corrected = gain·src + offset (reference ``kernel_model.py:442-463``).
    NaN in either operand propagates → output mask = src ∧ param mask."""
    if param.shape[1:] != src.shape:
        raise ValueError("'param' and 'src' must have the same shape")
    with np.errstate(invalid="ignore"):
        return (param[0] * src + param[1]).astype(np.float32)


def full_coverage_mask(
    src_mask: NDArray,
    param_mask: NDArray,
    factor: Tuple[int, int],
    kernel_shape: Tuple[int, int],
) -> NDArray:
    """Strict full-coverage output mask (reference ``kernel_model.py:375-409``):
    block-mean the fine-grid src mask onto the proc grid, keep only fully
    covered pixels (mean ≥ 1), AND with the param mask, erode by a rect SE of
    ``kernel_shape + 2``. ``factor`` = src-pixels per proc-pixel per dim."""
    cov = ops.block_mean(src_mask.astype(np.float32), factor)
    mask = (cov >= 1).astype(np.uint8)
    mask &= param_mask.astype(np.uint8)
    se = (kernel_shape[0] + 2, kernel_shape[1] + 2)
    return ops.erode_rect(mask, se).astype(bool)


def fit_and_apply_ref_space(
    src: NDArray,
    ref: NDArray,
    params: KernelModelParams,
    factor: Tuple[int, int],
) -> Tuple[NDArray, NDArray]:
    """RefSpaceModel fit+apply for one assembled block
    (reference ``kernel_model.py:466-503``): downsample src to the ref grid
    (average), fit there, upsample params to the src grid, apply to the
    original src. ``factor`` = src pixels per ref pixel per dim.

    Returns (param_array_on_proc_grid, corrected_src_on_src_grid).
    """
    src_proc = ops.downsample_average(src, factor)
    param = fit_model(src_proc, ref, params)

    param_us = ops.param_upsampler(params.param_interp)(param[:2], factor)
    if params.mask_partial:
        out_mask = full_coverage_mask(
            ~np.isnan(src), ~np.isnan(param[0]), factor, params.kernel_shape
        )
        out_mask_us = ops.upsample_nearest(out_mask.astype(np.float32), factor) >= 0.5
        param_us[:, ~out_mask_us] = np.nan
    else:
        param_us[:, np.isnan(src)] = np.nan

    corr = apply_model(src, param_us)
    return param, corr


def fit_and_apply_canvas(
    src: NDArray, ref: NDArray, params: KernelModelParams, src_scale: int,
    ref_scale: int, proc_src: bool, halo: Tuple[int, int], span: int,
) -> Optional[Tuple[NDArray, NDArray]]:
    """Fit + apply one halo'd canvas on either processing grid, like the
    reference's ``RefSpaceModel`` / ``SrcSpaceModel`` (``kernel_model.py:
    466-535``).  ``src``/``ref`` cover ``span + 2·halo`` coarse px per dim at
    ``src_scale``/``ref_scale`` px each; ``proc_src`` picks the proc grid.
    Params return to the src grid from the whole canvas, then are cropped;
    ``mask_partial`` keeps the other image's eroded full coverage
    (``kernel_model.py:375-409,526-533``).  Returns (interior params on the
    proc grid, corrected interior src), or None if no pixel pairs up."""
    proc_scale = src_scale if proc_src else ref_scale
    src_p = ops.to_grid(src, src_scale, proc_scale)
    ref_p = ops.to_grid(ref, ref_scale, proc_scale)
    if not _combined_mask(src_p, ref_p).any():
        return None
    param = fit_model(src_p, ref_p, params)
    oh, ow = halo

    def interior(a: NDArray, scale: int) -> NDArray:
        return a[..., oh * scale:(oh + span) * scale, ow * scale:(ow + span) * scale]

    up = ops.param_upsampler(params.param_interp)
    param_src = interior(ops.to_grid(param[:2], proc_scale, src_scale, up), src_scale)
    src_in = interior(src, src_scale)
    if params.mask_partial:
        other, other_scale = (ref, ref_scale) if proc_src else (src, src_scale)
        mask = ops.coverage_to_grid(~np.isnan(other), other_scale, proc_scale).astype(np.uint8)
        mask &= (~np.isnan(param[0])).astype(np.uint8)
        se = (params.kernel_shape[0] + 2, params.kernel_shape[1] + 2)
        full = ops.erode_rect(mask, se).astype(bool)
        keep = ops.coverage_to_grid(interior(full, proc_scale), proc_scale, src_scale)
    else:
        keep = ~np.isnan(src_in)
    # a new array: on the proc grid, param_src is a view of param
    param_src = np.where(keep, param_src, np.float32(np.nan))
    return interior(param, proc_scale), apply_model(src_in, param_src)
