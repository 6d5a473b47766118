"""Artifact-level cross-check against the reference's committed goldens.

The reference repo commits the parameter GTiffs its own test suite validates
(``/root/reference/tests/conftest.py:53-62`` loads them;
``/root/reference/tests/test_stats.py:36-50`` asserts gain≈1, offset≈0,
r2≈1, inpaint 0).  They were produced by fusing ``float_100cm_rgb.tif``
against itself (FUSE_SRC_FILE == FUSE_REF_FILE in the embedded GDAL
metadata) with model=gain_offset, kernel (5,5), proc_crs=ref,
r2_inpaint_thresh 0.25.

Here we rebuild that exact generating fixture (the conftest gradient
``np.array(range(1,201)).reshape(20,10)`` with a 1-px NaN border, bands
scaled ×1,×2,×3 — ``conftest.py:74-81,351-363``), run the engine's fuse on
it, and compare the engine's parameter grids per-pixel against the decoded
goldens — the only check in the suite whose expected values the *reference*
produced, not the engine."""

import os

import numpy as np
import pytest

from homonim_spark import datagen, grid
from homonim_spark.operators import fuse as fuse_ops
from homonim_spark.operators.stats import param_stats
from homonim_spark.tiffio import read_gtiff
from homonim_spark.tiles import decode_tile

GOLDEN = ("/root/reference/tests/data/parameter/"
          "float_100cm_rgb_FUSE_cREF_mGAIN-OFFSET_k5_5_PARAM.tif")
GOLDEN_TILED = ("/root/reference/tests/data/parameter/"
                "float_100cm_rgb_FUSE_cREF_mGAIN-OFFSET_k5_5_PARAM_tile_10x20.tif")


def _needs(*paths):
    missing = [p for p in paths if not os.path.exists(p)]
    return pytest.mark.skipif(bool(missing), reason=f"fixture absent: {', '.join(missing)}")


@pytest.fixture(scope="module")
def golden():
    g = read_gtiff(GOLDEN)
    assert g.metadata["FUSE_MODEL"] == "gain_offset"
    assert g.metadata["FUSE_KERNEL_SHAPE"] == "(5, 5)"
    assert g.metadata["FUSE_PROC_CRS"] == "ref"
    assert g.band_names[:3] == ["B1_GAIN", "B2_GAIN", "B3_GAIN"]
    return g.masked()  # (9, 20, 10): 3×gain, 3×offset, 3×r2


@pytest.fixture(scope="module")
def engine_grids(spark):
    """Engine param grids for the rebuilt conftest rgb fixture.

    20×10 px at 100cm == ref == src (factor 1): 4×2 cells of 5-px tiles.
    Both roles get the same 1-px NaN border (one file plays both parts)."""
    spec = datagen.RasterFixtureSpec(
        pair_id="rgb100", cells=(4, 2), tile=5, factor=1, bands=3,
        true_gain=1.0, true_offset=0.0, nan_border_ref=1, nan_border_src=1,
    )
    # sanity: datagen's gradient == the conftest array for this shape
    base = datagen.gradient_image(20, 10, band=0)
    assert np.array_equal(base, np.array(range(1, 201), dtype="float32").reshape(20, 10))

    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse_ops.fuse(
        docs, tiles, model="gain-offset", kernel_shape=(5, 5),
        find_r2=True, r2_inpaint_thresh=0.25, proc_crs="ref",
    ).toPandas()

    grids = {p: np.full((3, 20, 10), np.nan, dtype=np.float32)
             for p in ("gain", "offset", "r2")}
    for r in fused.itertuples(index=False):
        cr = grid.cell_row(int(r.cell_id)) - spec.origin[0]
        cc = grid.cell_col(int(r.cell_id)) - spec.origin[1]
        for p in grids:
            buf = getattr(r, p)
            if buf is not None:
                grids[p][r.band, cr * 5:(cr + 1) * 5, cc * 5:(cc + 1) * 5] = \
                    decode_tile(buf, 5, 5)
    return fused, grids


@_needs(GOLDEN)
def test_reference_golden_params(golden, engine_grids):
    """Engine per-pixel params match the reference-produced golden grids:
    identical valid mask, values within reference test tolerance."""
    _, grids = engine_grids
    for b in range(3):
        for p, gi, atol in (("gain", b, 1e-3), ("offset", b + 3, 5e-3),
                            ("r2", b + 6, 1e-3)):
            want = golden[gi]
            got = grids[p][b].astype(np.float64)
            assert np.array_equal(np.isnan(got), np.isnan(want)), \
                f"valid-mask mismatch band {b} param {p}"
            np.testing.assert_allclose(got, want, atol=atol, equal_nan=True,
                                       err_msg=f"band {b} param {p}")


@_needs(GOLDEN, GOLDEN_TILED)
def test_reference_golden_tiled_variant_identical(golden):
    """The 10x20-internally-tiled golden decodes to the same grids — pins
    the TIFF reader's tile-assembly path."""
    tiled = read_gtiff(GOLDEN_TILED).masked()
    np.testing.assert_array_equal(golden, tiled)


def test_reference_golden_stats(spark, engine_grids):
    """Engine param_stats reproduces test_stats.py:36-50 expected values:
    gain {mean 1, std 0}, offset {mean 0, std 0}, r2 {mean 1, inpaint 0},
    all to the reference's abs=1e-2."""
    fused, _ = engine_grids
    f = spark.createDataFrame(fused)
    st = param_stats(f, model="gain-offset").toPandas()
    assert len(st) == 9  # 3 bands × (gain, offset, r2)
    for _, row in st.iterrows():
        exp = {"gain": (1.0, 0.0), "offset": (0.0, 0.0), "r2": (1.0, 0.0)}[row["param"]]
        assert row["mean"] == pytest.approx(exp[0], abs=1e-2)
        assert row["std"] == pytest.approx(exp[1], abs=1e-2)
        assert row["min"] == pytest.approx(exp[0], abs=1e-2)
        assert row["max"] == pytest.approx(exp[0], abs=1e-2)
        if row["param"] == "r2":
            assert row["inpaint_p"] == 0.0
