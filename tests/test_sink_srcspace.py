"""Tests for the sinks (dtype conversion, overviews) and proc_crs=src."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from homonim_spark import datagen, grid
from homonim_spark.enums import Model
from homonim_spark.operators import fuse as fuse_ops
from homonim_spark.operators.sink import build_overviews, convert_tiles, write_corrected
from homonim_spark.tiles import convert_array_dtype, decode_tile


@pytest.fixture(scope="module")
def fused(spark):
    spec = datagen.RasterFixtureSpec(pair_id="s0", cells=(2, 4), tile=16, factor=2,
                                     true_gain=2.0, true_offset=10.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    out = fuse_ops.fuse(docs, tiles, model=Model.gain_blk_offset, kernel_shape=(5, 5))
    return spec, tiles_pdf, out.cache()


def test_convert_array_dtype_semantics():
    """Round-half-to-even + clip + nodata rewrite (raster_array.py:353-387)."""
    arr = np.array([[0.5, 1.5, 2.5], [300.0, -5.0, np.nan]], dtype=np.float32)
    out = convert_array_dtype(arr, "uint8", nodata=255)
    # np.round: 0.5→0, 1.5→2, 2.5→2 (half-to-even); 300 clips to 255;
    # -5 clips to 0; NaN → nodata
    np.testing.assert_array_equal(out, np.array([[0, 2, 2], [255, 0, 255]], dtype=np.uint8))
    assert out.dtype == np.uint8


def test_sink_dtype_conversion(spark, fused):
    spec, tiles_pdf, fdf = fused
    out = convert_tiles(fdf, dtype="uint8", nodata=255).toPandas()
    assert len(out) == 8
    arr = np.frombuffer(out.iloc[0]["data"], dtype=np.uint8)
    assert arr.size == (16 * 2) ** 2
    assert (out["dtype"] == "uint8").all()


@pytest.mark.parametrize("proc_crs", ["ref", "src"])
@pytest.mark.parametrize("src_finer", [True, False], ids=["src-finer", "src-coarser"])
def test_convert_tiles_takes_the_corrected_side_from_the_payload(spark, src_finer, proc_crs):
    """On every grid pairing the sink writes each corrected tile at the src
    side, whatever side the parameter tiles (the fused ``h``/``w``) have."""
    spec = datagen.RasterFixtureSpec(pair_id="geo", cells=(2, 2), tile=16, factor=2,
                                     true_gain=2.0, true_offset=10.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    if not src_finer:
        tiles_pdf = tiles_pdf.assign(role=tiles_pdf["role"].map({"ref": "src", "src": "ref"}))
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fdf = fuse_ops.fuse(docs, tiles, model=Model.gain_blk_offset, kernel_shape=(5, 5),
                        proc_crs=proc_crs).cache()
    fine, coarse = spec.tile * spec.factor, spec.tile
    side = fine if src_finer else coarse
    fused = {r.cell_id: r for r in fdf.toPandas().itertuples(index=False)}
    assert {r.h for r in fused.values()} == {fine if (proc_crs == "src") == src_finer else coarse}

    out = convert_tiles(fdf, dtype="uint8", nodata=255).toPandas()
    assert len(out) == 4
    assert (out["h"] == side).all() and (out["w"] == side).all()
    for r in out.itertuples(index=False):
        want = convert_array_dtype(decode_tile(fused[r.cell_id].corr, side, side), "uint8", 255)
        assert bytes(r.data) == want.tobytes()
    fdf.unpersist()


def test_convert_tiles_rejects_a_non_square_payload(spark):
    schema = "image_id string, band int, cell_id long, media_ref string, corr binary"
    bad = spark.createDataFrame([("img", 0, 7, "m", np.zeros(3, "<f4").tobytes())], schema)
    with pytest.raises(Exception, match=r"cell_id=7\) is not a square tile"):
        convert_tiles(bad).collect()


def test_write_corrected_roundtrip(spark, fused, tmp_path):
    spec, tiles_pdf, fdf = fused
    path = str(tmp_path / "corrected")
    write_corrected(fdf, path, dtype="float32", nodata=None)
    back = spark.read.parquet(path)
    assert back.count() == 8
    assert "band" in back.columns  # partition column survives


def test_overview_pyramid(spark, fused):
    spec, tiles_pdf, fdf = fused
    # min_px=8 so the 32×64-px fixture passes the reference stop rule
    # (floor(log2(32)) − log2(8) = 2 levels available, capped at 1)
    levels = build_overviews(fdf.select("image_id", "band", "cell_id", "h", "w",
                                        F.col("gain").alias("data")),
                             max_levels=1, min_px=8)
    l1 = levels[0].toPandas()
    # 2x4 cells → parents at res-1: rows 0, cols 0..1 → 2 tiles
    assert len(l1) == 2
    for r in l1.itertuples(index=False):
        assert grid.cell_res(int(r.cell_id)) == datagen.FIXTURE_RES - 1
        arr = decode_tile(r.data, 16, 16)
        # gain plane is constant true_gain where valid
        assert np.nanmax(np.abs(arr - spec.true_gain)) < 1e-2


def test_vectorize_params_bridge(spark, fused):
    """Raster→vector: per-cell polygon bounds + parameter summaries; the
    vector layer joins against footprints relationally."""
    from homonim_spark.operators.stats import vectorize_params
    spec, tiles_pdf, fdf = fused
    v = vectorize_params(fdf).toPandas()
    assert len(v) == 8
    s = grid.cell_size(datagen.FIXTURE_RES)
    for r in v.itertuples(index=False):
        assert r.x_max - r.x_min == pytest.approx(s)
        assert r.y_max - r.y_min == pytest.approx(s)
        assert r.gain_mean == pytest.approx(spec.true_gain, abs=1e-2)
        assert r.offset_mean == pytest.approx(spec.true_offset, abs=0.3)
        assert r.n_valid > 0
    # relational use: join the vector layer against a footprint cover
    from homonim_spark.operators.spatial import polyfill_footprints
    fps = spark.createDataFrame(datagen.build_footprints(4))
    cover = polyfill_footprints(fps, datagen.FIXTURE_RES)
    joined = spark.createDataFrame(v).join(cover, "cell_id", "inner")
    assert joined.count() >= 0  # plan executes; counts depend on overlap


@pytest.mark.parametrize("factor", [1, 2])
def test_src_space_fuse(spark, factor):
    """proc_crs=src (SrcSpaceModel): params live on the src grid and recover
    the planted relation; factor=1 must agree with proc_crs=ref exactly."""
    spec = datagen.RasterFixtureSpec(pair_id=f"ss{factor}", cells=(2, 2), tile=16,
                                     factor=factor, true_gain=2.0, true_offset=10.0,
                                     nan_border_src=1)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    out = fuse_ops.fuse(docs, tiles, model=Model.gain_offset, kernel_shape=(5, 5),
                        r2_inpaint_thresh=None, proc_crs="src").toPandas()
    assert len(out) == 4
    px = spec.tile * factor
    assert (out["h"] == px).all()
    for r in out.itertuples(index=False):
        g = decode_tile(r.gain, px, px)
        o = decode_tile(r.offset, px, px)
        mask = ~np.isnan(g)
        assert mask.any()
        corr = decode_tile(r.corr, px, px)
        cmask = ~np.isnan(corr)
        src = decode_tile(
            tiles_pdf[(tiles_pdf.media_ref == r.media_ref)].iloc[0]["data"], px, px)
        ref_rel = spec.true_gain * src + spec.true_offset
        if factor == 1:
            # aligned grids: exact recovery at the reference's tolerance
            np.testing.assert_allclose(g[mask], spec.true_gain, atol=2e-2)
            np.testing.assert_allclose(o[mask], spec.true_offset, atol=0.3)
            np.testing.assert_allclose(corr[cmask], ref_rel[cmask], atol=2.0)
        else:
            # blocky-src vs interpolated-ref regression is slope-biased at
            # fine scale (present in the reference's src-space path too);
            # use its integration-test criterion: correction must *improve*
            # agreement with the reference relation
            rmse_raw = np.sqrt(np.nanmean((src[cmask] - ref_rel[cmask]) ** 2))
            rmse_corr = np.sqrt(np.nanmean((corr[cmask] - ref_rel[cmask]) ** 2))
            assert rmse_corr < 0.25 * rmse_raw

    if factor == 1:
        ref_out = fuse_ops.fuse(docs, tiles, model=Model.gain_offset, kernel_shape=(5, 5),
                                r2_inpaint_thresh=None, proc_crs="ref").toPandas()
        a = out.sort_values("cell_id").reset_index(drop=True)
        b = ref_out.sort_values("cell_id").reset_index(drop=True)
        for col in ("gain", "offset", "corr"):
            for x, y in zip(a[col], b[col]):
                assert x == y  # identical grids ⇒ identical numerics


def test_overview_stop_rule_level_counts():
    """Reference _build_overviews semantics (fuse.py:151-165): levels =
    min(max_levels, floor(log2(min_shape)) - log2(min_px))."""
    from homonim_spark.tiffio import overview_level_count
    # 1024x2048 image, min_px 256: floor(log2(1024))=10, log2(256)=8 -> 2
    assert overview_level_count((1024, 2048)) == 2
    # huge image: capped at max_levels
    assert overview_level_count((2 ** 20, 2 ** 20)) == 8
    # image smaller than min_px: no overviews
    assert overview_level_count((128, 4096)) == 0
    assert overview_level_count((256, 256)) == 0   # log2(256)-8 = 0
    assert overview_level_count((512, 512)) == 1
    assert overview_level_count((1024, 1024), max_levels=1) == 1


def test_overview_stop_rule_per_image(spark, fused):
    """Images below the min-px rule drop out of the pyramid entirely."""
    spec, tiles_pdf, fdf = fused
    levels = build_overviews(fdf.select("image_id", "band", "cell_id", "h", "w",
                                        F.col("gain").alias("data")),
                             max_levels=8, min_px=256)
    assert levels == []  # 32x64-px fixture: rule says zero levels
    levels = build_overviews(fdf.select("image_id", "band", "cell_id", "h", "w",
                                        F.col("gain").alias("data")),
                             max_levels=8, min_px=8)
    assert len(levels) == 2  # floor(log2(32)) - 3 = 2


def test_export_corrected_gtiff_roundtrip(spark, fused, tmp_path):
    """S8 file parity: the per-image GTiff export must carry every
    corrected pixel (north-up flip + canonical transform + nodata tag) so
    that decoding the file reproduces the converted tile payloads
    bit-for-bit, window by window."""
    from homonim_spark.operators.sink import export_corrected_gtiff
    from homonim_spark.tiffio import read_gtiff

    spec, tiles_pdf, fdf = fused
    out_dir = str(tmp_path / "tifs")
    manifest = export_corrected_gtiff(
        fdf, out_dir, dtype="float32", nodata=-9999.0,
        tile=(32, 32), epsg=32734).toPandas()
    assert list(manifest["image_id"]) == ["s0"]
    m = manifest.iloc[0]
    t = spec.tile * spec.factor                       # corrected tile px
    assert (m["n_bands"], m["height"], m["width"]) == (1, 2 * t, 4 * t)

    g = read_gtiff(m["path"])
    assert g.crs == "EPSG:32734" and g.nodata == -9999.0
    # north-up: negative row scale, tiepoint at the top edge
    assert g.transform[4] < 0
    px = grid.cell_size(datagen.FIXTURE_RES) / t
    assert g.transform[0] == pytest.approx(px)

    # un-flip and compare each cell window against convert_tiles' payloads
    img = g.data[:, ::-1, :]
    conv = convert_tiles(fdf, dtype="float32", nodata=-9999.0).toPandas()
    assert len(conv) == 8
    for r in conv.itertuples(index=False):
        rr = grid.cell_row(int(r.cell_id)) * t
        cc = grid.cell_col(int(r.cell_id)) * t
        want = np.frombuffer(r.data, dtype="<f4").reshape(t, t)
        np.testing.assert_array_equal(img[int(r.band), rr:rr + t, cc:cc + t],
                                      want)


def test_export_gtiff_with_internal_overviews(spark, fused, tmp_path):
    """S8 + S9 file parity: --build-ovw exports carry chained overview IFDs
    (power-of-2 masked average, the reference's build_overviews artifact,
    fuse.py:152-165,287), each level bit-equal to the pyramid of the
    decoded primary canvas; the stop rule drops levels below min px."""
    from homonim_spark.operators.sink import export_corrected_gtiff
    from homonim_spark.tiffio import build_overviews as px_overviews
    from homonim_spark.tiffio import read_gtiff

    spec, tiles_pdf, fdf = fused
    # default min_level_pixels=256: the 64x128-px fixture is below the rule
    # -> a build_ovw export still has exactly ONE image IFD (reference
    # parity: rasterio builds zero levels here too)
    m0 = export_corrected_gtiff(
        fdf, str(tmp_path / "t0"), dtype="float32", nodata=-9999.0, tile=(32, 32),
        build_ovw=True).toPandas()
    assert read_gtiff(m0.iloc[0]["path"]).n_overviews == 0

    m1 = export_corrected_gtiff(
        fdf, str(tmp_path / "t1"), dtype="float32", nodata=-9999.0, tile=(32, 32),
        build_ovw=True, ovw_min_px=8).toPandas()
    g = read_gtiff(m1.iloc[0]["path"])
    assert g.n_overviews == 3  # floor(log2(64)) - 3
    want = px_overviews(g.data, nodata=-9999.0, min_level_pixels=8)
    for n in range(1, g.n_overviews + 1):
        lv = read_gtiff(m1.iloc[0]["path"], ifd=n)
        np.testing.assert_array_equal(lv.data, want[n - 1])
        # nodata TAG lives on the primary IFD only, but the reader
        # presents overviews with the primary's nodata (GDAL semantics,
        # ADVICE r05 #1) so masked() works on every pyramid level
        assert lv.nodata == -9999.0
    assert g.nodata == -9999.0


def test_overview_level_rule_column_matches_python(spark):
    """The collect-free build_overviews derives per-image level counts as a
    Spark column (bit-length integer math); that column must equal the
    Python ``tiffio.overview_level_count`` rule for every (ch, cw) shape in
    range — including the log2 power-of-two boundaries where float log
    would drift."""
    from pyspark.sql import functions as F

    from homonim_spark import grid
    from homonim_spark.operators.sink import _overview_level_col
    from homonim_spark.tiffio import overview_level_count

    tile_px, max_levels, min_px = 8, 8, 256
    shapes = [(ch, cw) for ch in [1, 2, 3, 31, 32, 33, 63, 64, 65, 255, 256]
              for cw in [1, 2, 31, 32, 33, 257]]
    rows = []
    for i, (ch, cw) in enumerate(shapes):
        # two corner tiles pin the extent to exactly (ch, cw) cells
        rows.append((f"img{i}", 0, int(grid.cell_id(0, 0, 0)), ch, cw))
        rows.append((f"img{i}", 0, int(grid.cell_id(0, ch - 1, cw - 1)), ch, cw))
    df = spark.createDataFrame(
        rows, "image_id string, band int, cell_id long, ch int, cw int")

    row, col = grid.cell_row_expr("cell_id"), grid.cell_col_expr("cell_id")
    min_shape = F.least(
        F.max(row) - F.min(row) + 1, F.max(col) - F.min(col) + 1) * tile_px
    n_col = _overview_level_col(min_shape, max_levels, min_px)
    got = {r["image_id"]: r["n"]
           for r in df.groupBy("image_id").agg(n_col.alias("n")).collect()}
    assert len(got) == len(shapes) == 66
    for i, (ch, cw) in enumerate(shapes):
        exp = overview_level_count((ch * tile_px, cw * tile_px),
                                   max_levels, min_px)
        assert got[f"img{i}"] == exp, (ch, cw, got[f"img{i}"], exp)


def test_build_overviews_has_no_image_collect():
    """Scale hygiene (round-5 verdict #4): build_overviews must not collect
    per-image rows to the driver — only the scalar pyramid depth."""
    import inspect

    from homonim_spark.operators import sink

    src = inspect.getsource(sink.build_overviews)
    assert ".collect()" not in src
    assert "createDataFrame" not in src
