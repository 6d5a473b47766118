"""proc_crs='auto' resolution + coarser-than-reference source support.

Reference rule (``/root/reference/homonim/raster_pair.py:193-224``): auto
resolves to the lower-resolution grid of the pair — ref when the source
pixel is smaller-or-equal, src when the source is the coarser image.  Round
1 hardcoded auto→ref and rejected coarser sources entirely (VERDICT r01
missing #2); these tests pin the full matrix.
"""

import numpy as np
import pandas as pd
import pytest

from homonim_spark import datagen, grid
from homonim_spark.enums import Model, ProcCrs
from homonim_spark.kernel import ops
from homonim_spark.kernel.models import KernelModelParams, apply_model, fit_model
from homonim_spark.operators import fuse as fuse_ops
from homonim_spark.tiles import decode_tile

SPEC = datagen.RasterFixtureSpec(
    pair_id="sw0", cells=(3, 4), tile=16, factor=2, bands=1,
    true_gain=2.0, true_offset=10.0,
)


def _swapped_tables(spark):
    """Build the standard fine-src pair, then exchange the roles: the new
    source is the coarse (16px-tile) image, the new reference the fine
    (32px-tile) one."""
    docs_pdf, tiles_pdf = datagen.build_pair_tables(SPEC)
    tiles_pdf = tiles_pdf.copy()
    tiles_pdf["role"] = tiles_pdf["role"].map({"ref": "src", "src": "ref"})
    return datagen.to_spark(spark, docs_pdf, tiles_pdf)


@pytest.fixture(scope="module")
def swapped(spark):
    docs, tiles = _swapped_tables(spark)
    return docs.cache(), tiles.cache()


def test_auto_resolves_to_lower_res_grid(spark, swapped):
    """auto → ref when src is finer; auto → src when src is coarser."""
    params = KernelModelParams(model=Model.gain, kernel_shape=(5, 5))
    # standard pair: src finer
    _, tiles_fine = datagen.to_spark(spark, *datagen.build_pair_tables(SPEC))
    cfg = fuse_ops.infer_fuse_config(tiles_fine, params, ProcCrs.auto)
    assert cfg.proc_crs == ProcCrs.ref and cfg.src_finer and cfg.factor == 2
    # swapped pair: src coarser
    _, tiles_coarse = swapped
    cfg = fuse_ops.infer_fuse_config(tiles_coarse, params, ProcCrs.auto)
    assert cfg.proc_crs == ProcCrs.src and not cfg.src_finer and cfg.factor == 2
    assert cfg.src_scale == 1 and cfg.ref_scale == 2


def _assemble(fused_pdf, col, px, origin=(0, 0)):
    ch, cw = SPEC.cells
    img = np.full((ch * px, cw * px), np.nan, dtype=np.float32)
    for r in fused_pdf.itertuples(index=False):
        buf = getattr(r, col)
        if buf is None:
            continue
        cr = grid.cell_row(int(r.cell_id)) - origin[0]
        cc = grid.cell_col(int(r.cell_id)) - origin[1]
        img[cr * px:(cr + 1) * px, cc * px:(cc + 1) * px] = decode_tile(buf, px, px)
    return img


@pytest.mark.parametrize("model", [Model.gain, Model.gain_offset])
def test_src_coarser_auto_matches_whole_image_oracle(spark, swapped, model):
    """src coarser + proc=auto(→src): the chunked engine result equals a
    whole-image numpy oracle that block-means the fine reference onto the
    source grid and fits there (the reference's recommended lowest-res
    combination, run via its SrcSpaceModel)."""
    docs, tiles = swapped
    fused = fuse_ops.fuse(docs, tiles, model=model, kernel_shape=(5, 5),
                          proc_crs="auto").toPandas()
    got_gain = _assemble(fused, "gain", SPEC.tile)
    got_corr = _assemble(fused, "corr", SPEC.tile)

    # whole-image oracle on the same arrays
    ref_fine, src_fine = datagen.make_pair_arrays(SPEC, band=0)
    src_new = ref_fine                       # coarse image now plays source
    ref_new_ds = ops.downsample_average(src_fine, (2, 2))
    params = KernelModelParams(model=model, kernel_shape=(5, 5))
    want_param = fit_model(src_new, ref_new_ds, params)
    want_gain = want_param[0]
    pm = want_param[:2].copy()
    pm[:, np.isnan(src_new)] = np.nan
    want_corr = apply_model(src_new, pm)

    np.testing.assert_allclose(got_gain, want_gain, rtol=1e-4, atol=1e-5,
                               equal_nan=True)
    np.testing.assert_allclose(got_corr, want_corr, rtol=1e-4, atol=1e-4,
                               equal_nan=True)
    if model == Model.gain_offset:
        # the full fit recovers the inverted relation: new_ref = (src − o)/g
        valid = ~np.isnan(got_gain)
        assert np.nanmedian(got_gain[valid]) == pytest.approx(
            1 / SPEC.true_gain, rel=1e-2)


def test_src_coarser_forced_ref_space_runs(spark, swapped):
    """The warned-but-allowed combination (proc=ref on the finer grid with a
    coarser source) produces params on the ref grid and a plausible fit."""
    docs, tiles = swapped
    fused = fuse_ops.fuse(docs, tiles, model=Model.gain_offset, kernel_shape=(5, 5),
                          proc_crs="ref").toPandas()
    # params on the fine (32px-tile) ref grid
    assert set(fused["h"]) == {SPEC.tile * SPEC.factor}
    gain = _assemble(fused, "gain", SPEC.tile * SPEC.factor)
    assert np.nanmedian(gain) == pytest.approx(1 / SPEC.true_gain, rel=5e-2)
    # corrected tiles stay on the src (coarse) grid
    corr = _assemble(fused, "corr", SPEC.tile)
    assert np.isfinite(corr).sum() > 0


@pytest.mark.parametrize("chunk", [1, 2])
@pytest.mark.parametrize("src_finer,proc_crs", [
    pytest.param(True, "src", id="finer-src"),
    pytest.param(False, "auto", id="coarser-auto"),
    pytest.param(False, "ref", id="coarser-ref"),
])
def test_mask_partial_chunk_invariant(spark, swapped, src_finer, proc_crs, chunk):
    """Strict partial-coverage masking is chunk-invariant on every grid
    pairing: chunks of 1 and 2 cells reproduce the single chunk that covers
    the whole 3×4-cell image (gains on the proc grid, corrected tiles on
    the src grid, NaN pattern included)."""
    docs, tiles = (datagen.to_spark(spark, *datagen.build_pair_tables(SPEC))
                   if src_finer else swapped)
    kw = dict(model=Model.gain, kernel_shape=(5, 5), mask_partial=True,
              proc_crs=proc_crs)
    whole = fuse_ops.fuse(docs, tiles, chunk=4, **kw).toPandas()
    got = fuse_ops.fuse(docs, tiles, chunk=chunk, **kw).toPandas()
    fine, coarse = SPEC.tile * SPEC.factor, SPEC.tile
    src_px = fine if src_finer else coarse
    proc_px = src_px if proc_crs != "ref" else (coarse if src_finer else fine)
    for col, px in (("gain", proc_px), ("corr", src_px)):
        want = _assemble(whole, col, px)
        assert np.isnan(want).any() and not np.isnan(want).all()
        np.testing.assert_allclose(_assemble(got, col, px), want, rtol=1e-5,
                                   atol=1e-4, equal_nan=True)


def test_non_integer_resolution_ratio_rejected(spark):
    """Tile sizes that aren't integer-related still raise (both orders)."""
    from homonim_spark.enums import ImageContentError
    docs_pdf, tiles_pdf = datagen.build_pair_tables(SPEC)
    bad = tiles_pdf.copy()
    # fake a 24px ref against the 32px src: 32 % 24 != 0
    bad.loc[bad["role"] == "ref", "h"] = 24
    _, tiles = datagen.to_spark(spark, docs_pdf, bad)
    with pytest.raises(ImageContentError, match="integer"):
        fuse_ops.infer_fuse_config(
            tiles, KernelModelParams(model=Model.gain, kernel_shape=(5, 5)))
