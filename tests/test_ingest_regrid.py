"""Regrid normalisation tests — the grad_45cm non-aligned-grid path
(reference tests/conftest.py:176-218): arbitrary transforms resampled onto
the canonical grid recover the closed-form gradient."""

import numpy as np
import pandas as pd
import pytest

from homonim_spark import datagen, grid
from homonim_spark.operators.ingest import bilinear_sample, regrid_tiles
from homonim_spark.tiles import decode_tile, encode_tile

RES = datagen.FIXTURE_RES
TILE = 16
CELL = grid.cell_size(RES)
PX = CELL / TILE  # canonical pixel size


def world_gradient(xs, ys):
    """Closed-form continuous 'image': value = x + 2*y in world units (a
    plane — bilinear resampling reproduces planes exactly away from edges)."""
    return (xs / PX + 2 * (ys / PX)).astype(np.float32)


def make_input_tile(image_id, role, band, px, origin_xy, h, w, rot=False):
    """One input tile on an arbitrary (non-canonical) grid sampling the
    world plane at its own pixel centers."""
    ox, oy = origin_xy
    cols = (np.arange(w) + 0.5) * px + ox
    rows = (np.arange(h) + 0.5) * px + oy
    X, Y = np.meshgrid(cols, rows)
    arr = world_gradient(X, Y)
    return {
        "image_id": image_id, "role": role, "band": band,
        "transform": [px, 0.0, ox, 0.0, px, oy],
        "h": h, "w": w, "data": encode_tile(arr),
    }


def test_bilinear_sample_plane_exact():
    arr = (np.arange(8)[:, None] * 2.0 + np.arange(8)[None, :]).astype(np.float32)
    ys = np.array([[0.5, 3.25], [6.0, 0.0]])
    xs = np.array([[0.5, 2.75], [1.5, 0.0]])
    got = bilinear_sample(arr, ys, xs)
    np.testing.assert_allclose(got, ys * 2 + xs, rtol=1e-6)
    # out-of-bounds → NaN
    assert np.isnan(bilinear_sample(arr, np.array([-1.0]), np.array([0.0]))[0])


def test_regrid_shifted_finer_grid(spark):
    """Input at 0.45× canonical pixel size, origin shifted by half an input
    pixel (the grad_45cm construction): regridded canonical tiles must
    reproduce the world plane at canonical pixel centers (bilinear of a
    plane is exact in the interior)."""
    px_in = 0.45 * PX
    # cover canonical cells (0,0) and (0,1) fully, with margin
    w = int((2.4 * CELL) / px_in)
    h = int((1.4 * CELL) / px_in)
    t = make_input_tile("rg", "src", 0, px_in, (-0.2 * CELL, -0.2 * CELL), h, w)
    tiles = spark.createDataFrame(pd.DataFrame([t]))
    out = regrid_tiles(tiles, RES, TILE).toPandas()
    cells = {(r.row, r.col): r for r in out.itertuples(index=False)}
    assert (0, 0) in cells and (0, 1) in cells
    for (cr, cc) in [(0, 0), (0, 1)]:
        r = cells[(cr, cc)]
        arr = decode_tile(r.data, TILE, TILE)
        gx = cc * CELL + (np.arange(TILE) + 0.5) * PX
        gy = cr * CELL + (np.arange(TILE) + 0.5) * PX
        X, Y = np.meshgrid(gx, gy)
        want = world_gradient(X, Y)
        mask = ~np.isnan(arr)
        assert mask.mean() > 0.95
        np.testing.assert_allclose(arr[mask], want[mask], rtol=1e-4)


def test_regrid_mosaics_overlapping_tiles(spark):
    """Two overlapping input tiles covering one cell: fragments average to
    the same plane (mosaic correctness)."""
    px_in = 0.8 * PX
    t1 = make_input_tile("mo", "ref", 0, px_in, (-0.1 * CELL, -0.1 * CELL),
                         int(0.8 * CELL / px_in), int(1.4 * CELL / px_in))
    t2 = make_input_tile("mo", "ref", 0, px_in, (-0.1 * CELL, 0.4 * CELL),
                         int(0.8 * CELL / px_in), int(1.4 * CELL / px_in))
    tiles = spark.createDataFrame(pd.DataFrame([t1, t2]))
    out = regrid_tiles(tiles, RES, TILE).toPandas()
    row = out[(out.row == 0) & (out.col == 0)].iloc[0]
    arr = decode_tile(row.data, TILE, TILE)
    gx = (np.arange(TILE) + 0.5) * PX
    X, Y = np.meshgrid(gx, gx)
    want = world_gradient(X, Y)
    mask = ~np.isnan(arr)
    assert mask.mean() > 0.9
    np.testing.assert_allclose(arr[mask], want[mask], rtol=1e-4)


def test_regrid_feeds_fuse(spark):
    """End-to-end: non-aligned src + aligned ref → regrid → fuse recovers
    the relation (the reference's mixed-grid fuse cases,
    tests/test_fuse_api.py:82-114)."""
    from homonim_spark.operators import fuse as fuse_ops

    # aligned ref directly on the canonical grid, src on a 0.45x shifted grid
    px_in = 0.45 * PX
    w = int((2.4 * CELL) / px_in)
    h = int((2.4 * CELL) / px_in)
    src_in = make_input_tile("rf", "src", 0, px_in, (-0.2 * CELL, -0.2 * CELL), h, w)
    tiles_src = regrid_tiles(spark.createDataFrame(pd.DataFrame([src_in])), RES, TILE)

    ref_rows = []
    for cr in range(2):
        for cc in range(2):
            gx = cc * CELL + (np.arange(TILE) + 0.5) * PX
            gy = cr * CELL + (np.arange(TILE) + 0.5) * PX
            X, Y = np.meshgrid(gx, gy)
            arr = (world_gradient(X, Y) * 2 + 5).astype(np.float32)  # ref = 2*src + 5
            ref_rows.append({
                "media_ref": f"tile://rf/ref/0/{cr}/{cc}", "image_id": "rf",
                "role": "ref", "band": 0, "cell_id": grid.cell_id(RES, cr, cc),
                "row": cr, "col": cc, "h": TILE, "w": TILE,
                "transform": [PX, 0.0, cc * CELL, 0.0, PX, cr * CELL],
                "data": encode_tile(arr),
            })
    ref_df = spark.createDataFrame(pd.DataFrame(ref_rows), schema=datagen.TILES_SCHEMA)
    tiles = tiles_src.select(*[f.name for f in datagen.TILES_SCHEMA.fields]).unionByName(ref_df)

    spans = []
    for i, r in enumerate(tiles.select("media_ref").toPandas()["media_ref"]):
        spans.append({"kind": "media", "text": "", "media_ref": r, "offset": i})
    docs = spark.createDataFrame(pd.DataFrame([{"doc_id": "d0", "spans": spans}]),
                                 schema=datagen.DOCUMENTS_SCHEMA)

    fused = fuse_ops.fuse(docs, tiles, model="gain-offset", kernel_shape=(5, 5),
                          r2_inpaint_thresh=None).toPandas()
    # the regridded src covers cells beyond the 2x2 ref extent; only the
    # ref-covered cells carry valid params
    fused = fused[fused.n_valid > 0]
    assert len(fused) == 4
    for r in fused.itertuples(index=False):
        g = decode_tile(r.gain, TILE, TILE)
        o = decode_tile(r.offset, TILE, TILE)
        m = ~np.isnan(g)
        assert m.any()
        np.testing.assert_allclose(g[m], 2.0, atol=2e-2)
        np.testing.assert_allclose(o[m], 5.0, atol=0.5)


# ---------------------------------------------------------------------------
# cross-CRS regrid (R1/R3: the reference's WarpedVRT path, utils.py:190-209)
# ---------------------------------------------------------------------------

def _smooth(x, y):
    """Smooth radiance field over Web-Mercator coords (curvature small
    enough that one bilinear resample stays ≲1e-3 relative)."""
    return (100.0 + 30.0 * np.sin(2 * np.pi * x / 800.0)
            + 20.0 * np.cos(2 * np.pi * y / 700.0))


def test_cross_crs_regrid_and_fuse_match_same_crs(spark):
    """A WGS84 (EPSG:4326) source ingests through the closed-form
    geographic→Web-Mercator warp and fuses to the same params as the
    Mercator-native rendering of the same ground radiance (rel ~1e-3, the
    reference's own proc-crs invariance tolerance)."""
    from homonim_spark import crs as crsmod
    from homonim_spark.operators.fuse import fuse

    RES, TILE = 12, 16                      # 256 m cells, 16 m px
    cell_sz = grid.cell_size(RES)
    cr0, cc0 = 19292, -31961                # ~(40.5N, 73.5W) in cell coords
    x0, y0 = cc0 * cell_sz, cr0 * cell_sz
    ext = 4 * cell_sz                       # 4x4 cells

    def mk_row(image_id, role, arr, transform, crs):
        return {"image_id": image_id, "role": role, "band": 0,
                "transform": transform, "h": arr.shape[0], "w": arr.shape[1],
                "data": encode_tile(arr.astype(np.float32)), "crs": crs}

    # reference + Mercator-native source: rendered on a grid-aligned 16 m
    # Mercator raster (regrid then samples exactly at pixel centers)
    gx = x0 + (np.arange(4 * TILE) + 0.5) * (cell_sz / TILE)
    gy = y0 + (np.arange(4 * TILE) + 0.5) * (cell_sz / TILE)
    MX, MY = np.meshgrid(gx, gy)
    ref_img = _smooth(MX, MY)
    src_img = (ref_img - 10.0) / 2.0        # true gain 2, offset 10
    merc_tf = [cell_sz / TILE, 0.0, x0, 0.0, cell_sz / TILE, y0]

    # WGS84 source: same ground radiance rendered on a lon/lat pixel grid
    lon0, lat0 = crsmod.webmercator_to_lonlat(x0 - 64.0, y0 - 64.0)
    lon1, lat1 = crsmod.webmercator_to_lonlat(x0 + ext + 64.0, y0 + ext + 64.0)
    nwy, nwx = 128, 128
    dlon, dlat = (lon1 - lon0) / nwx, (lat1 - lat0) / nwy
    lons = lon0 + (np.arange(nwx) + 0.5) * dlon
    lats = lat0 + (np.arange(nwy) + 0.5) * dlat
    LN, LT = np.meshgrid(lons, lats)
    WXm, WYm = crsmod.lonlat_to_webmercator(LN.ravel(), LT.ravel())
    src_wgs = ((_smooth(WXm, WYm) - 10.0) / 2.0).reshape(nwy, nwx)
    wgs_tf = [float(dlon), 0.0, float(lon0), 0.0, float(dlat), float(lat0)]

    rows_native = [mk_row("p", "ref", ref_img, merc_tf, "EPSG:3857"),
                   mk_row("p", "src", src_img, merc_tf, "EPSG:3857")]
    rows_cross = [mk_row("p", "ref", ref_img, merc_tf, "EPSG:3857"),
                  mk_row("p", "src", src_wgs, wgs_tf, "EPSG:4326")]

    outs = []
    for rows in (rows_native, rows_cross):
        tiles = regrid_tiles(spark.createDataFrame(pd.DataFrame(rows)),
                             RES, TILE, grid_crs="EPSG:3857").cache()
        # only the 4x4 target cells (the WGS84 bbox pads past them)
        keep = tiles.filter(
            (grid.cell_row_expr("cell_id").between(cr0, cr0 + 3))
            & (grid.cell_col_expr("cell_id").between(cc0, cc0 + 3)))
        docs = spark.createDataFrame(pd.DataFrame([{
            "doc_id": "d", "spans": [
                {"kind": "media", "text": "", "media_ref": r["media_ref"],
                 "offset": i}
                for i, r in enumerate(keep.select("media_ref").collect())]}]))
        fused = fuse(docs, keep, model="gain", kernel_shape=(5, 5)).toPandas()
        img = np.full((4 * TILE, 4 * TILE), np.nan, dtype=np.float32)
        for r in fused.itertuples(index=False):
            rr = grid.cell_row(int(r.cell_id)) - cr0
            cc = grid.cell_col(int(r.cell_id)) - cc0
            img[rr * TILE:(rr + 1) * TILE, cc * TILE:(cc + 1) * TILE] = \
                decode_tile(r.gain, TILE, TILE)
        outs.append(img)

    native, cross = outs
    both = ~np.isnan(native) & ~np.isnan(cross)
    assert both.mean() > 0.9               # near-full shared coverage
    rel = np.abs(cross[both] - native[both]) / np.abs(native[both])
    assert np.nanmax(rel) < 1e-3, np.nanmax(rel)


def test_windowed_gtiff_ingestion_matches_whole_file(spark, tmp_path):
    """Round-3 verdict #4: a large TILED GTiff ingested via IFD-planned
    window units (bounded per-task memory) must be payload-identical to
    the whole-file binaryFile decode path, and must actually fan out to
    multiple window tasks."""
    from pyspark.sql import functions as F

    from homonim_spark.operators.ingest import (gtiff_band_rows,
                                                gtiff_window_rows,
                                                regrid_tiles)
    from homonim_spark.tiffio import read_gtiff_meta, write_gtiff

    tile_px = 32
    px = grid.cell_size(RES) / tile_px          # 32 world units
    h, w = 640, 480                             # 20 x 15 canonical cells
    rng = np.random.default_rng(11)
    img = rng.integers(1, 4000, (2, h, w)).astype(np.uint16)
    img[:, 40:60, 40:80] = 0                    # nodata hole
    tr = (px, 0.0, 0.0, 0.0, px, 0.0)           # north-up on the cell grid
    path = str(tmp_path / "big_tiled.tif")
    write_gtiff(path, img, transform=tr, nodata=0.0, tile=(64, 64),
                compress=True, epsg=32633)

    meta = read_gtiff_meta(path)
    assert meta.tiled and meta.crs == "EPSG:32633"

    win = gtiff_window_rows(spark, [path], role="src", window_rows=128)
    win_pdf = win.select("image_id", "band", "h", "w", "crs").toPandas()
    # 640 rows / 128-row windows -> 5 windows x 2 bands; each task decodes
    # at most 128+2 rows (window + 1-px halo), never the whole file
    assert len(win_pdf) == 10
    assert win_pdf["h"].max() <= 130 and (win_pdf["w"] == w).all()
    assert (win_pdf["crs"] == "EPSG:32633").all()

    windowed = regrid_tiles(win, RES, tile_px).cache()
    whole = regrid_tiles(
        gtiff_band_rows(spark.read.format("binaryFile").load(path), "src"),
        RES, tile_px).cache()
    n = windowed.count()
    assert n == whole.count() > 0
    key = ["image_id", "band", "cell_id"]
    joined = windowed.select(*key, F.md5("data").alias("h_a")).join(
        whole.select(*key, F.md5("data").alias("h_b")), key, "full")
    mism = joined.filter(
        F.col("h_a").isNull() | F.col("h_b").isNull()
        | (F.col("h_a") != F.col("h_b"))).count()
    assert mism == 0


def test_binaryfile_ingestion_matches_driver_path_written_files(spark, tmp_path):
    """``ingest_gtiff_files`` (binaryFile scan → executor decode → regrid)
    is payload-identical to the driver path (``read_gtiff`` rows with
    nodata set to NaN → ``regrid_tiles``) on four small uint16 GTiffs with
    a nodata hole, off the canonical grid (the real-imagery version of this
    check needs the reference's NGI files)."""
    from pyspark.sql import functions as F

    from homonim_spark.operators.ingest import ingest_gtiff_files
    from homonim_spark.tiffio import read_gtiff, write_gtiff

    rng = np.random.default_rng(5)
    px = PX * 0.75
    rows = []
    for i in (1, 2, 3, 4):
        img = rng.integers(1, 4000, (2, 40 + 4 * i, 56)).astype(np.uint16)
        img[:, 10:20, 12 + i:30] = 0                      # nodata hole
        tr = (px, 0.0, 3.5 * i * px, 0.0, px, 5.25 * px)  # non-aligned origin
        path = str(tmp_path / f"img_{i}.tif")
        write_gtiff(path, img, transform=tr, nodata=0.0, tile=(16, 16))
        t = read_gtiff(path)
        arr = t.data.astype(np.float32)
        arr[t.data == 0] = np.nan
        rows += [{"image_id": f"img_{i}", "role": "src", "band": b,
                  "transform": list(t.transform), "h": arr.shape[1],
                  "w": arr.shape[2], "data": encode_tile(arr[b])}
                 for b in range(arr.shape[0])]
    (tmp_path / "img_5.tif").write_bytes(b"")               # outside the glob

    exec_side = ingest_gtiff_files(spark, str(tmp_path / "img_[1234].tif"),
                                   role="src", res=RES, tile_px=TILE,
                                   nodata=0.0).cache()
    driver_side = regrid_tiles(spark.createDataFrame(pd.DataFrame(rows)),
                               RES, TILE).cache()
    n = exec_side.count()
    assert n == driver_side.count() > 0
    assert exec_side.select("image_id").distinct().count() == 4
    key = ["image_id", "band", "cell_id"]
    joined = exec_side.select(*key, F.md5("data").alias("h_a")).join(
        driver_side.select(*key, F.md5("data").alias("h_b")), key, "full")
    mism = joined.filter(
        F.col("h_a").isNull() | F.col("h_b").isNull()
        | (F.col("h_a") != F.col("h_b"))).count()
    assert mism == 0


def test_modis_sinusoidal_ref_fuses_like_utm_native(spark):
    """The reference tutorial's CRS pairing: a MODIS-sinusoidal reference
    raster ingests through the closed-form sinusoidal→UTM warp and fuses
    to the same params as a UTM-native rendering of the same ground
    radiance (rel ~1e-3, the reference's proc-crs invariance tolerance)."""
    from homonim_spark import crs as crsmod
    from homonim_spark.operators.fuse import fuse

    RES, TILE = 12, 16                      # 256 m cells, 16 m px
    cell_sz = grid.cell_size(RES)
    # ~(33.9S, 18.43E): the reference tutorial's Cape Town UTM 34S scene
    ux, uy = crsmod.lonlat_to_utm(18.43, -33.9, 34, True)
    cr0, cc0 = int(uy // cell_sz), int(ux // cell_sz)
    x0, y0 = cc0 * cell_sz, cr0 * cell_sz
    ext = 4 * cell_sz

    def mk_row(image_id, role, arr, transform, crs):
        return {"image_id": image_id, "role": role, "band": 0,
                "transform": transform, "h": arr.shape[0], "w": arr.shape[1],
                "data": encode_tile(arr.astype(np.float32)), "crs": crs}

    gx = x0 + (np.arange(4 * TILE) + 0.5) * (cell_sz / TILE)
    gy = y0 + (np.arange(4 * TILE) + 0.5) * (cell_sz / TILE)
    MX, MY = np.meshgrid(gx, gy)
    ref_img = _smooth(MX, MY)
    src_img = (ref_img - 10.0) / 2.0        # true gain 2, offset 10
    utm_tf = [cell_sz / TILE, 0.0, x0, 0.0, cell_sz / TILE, y0]

    # sinusoidal reference: same ground radiance rendered on a MODIS-grid
    # pixel raster covering the padded UTM bbox
    corners_x = np.array([x0 - 64.0, x0 + ext + 64.0, x0 - 64.0, x0 + ext + 64.0])
    corners_y = np.array([y0 - 64.0, y0 - 64.0, y0 + ext + 64.0, y0 + ext + 64.0])
    sx, sy = crsmod.transform_points("EPSG:32734", "SINUSOIDAL",
                                     corners_x, corners_y)
    sx0, sx1 = sx.min() - 32.0, sx.max() + 32.0
    sy0, sy1 = sy.min() - 32.0, sy.max() + 32.0
    nwy, nwx = 128, 128
    dx, dy = (sx1 - sx0) / nwx, (sy1 - sy0) / nwy
    sxs = sx0 + (np.arange(nwx) + 0.5) * dx
    sys_ = sy0 + (np.arange(nwy) + 0.5) * dy
    SX, SY = np.meshgrid(sxs, sys_)
    UXm, UYm = crsmod.transform_points("SINUSOIDAL", "EPSG:32734",
                                       SX.ravel(), SY.ravel())
    ref_sinu = _smooth(UXm, UYm).reshape(nwy, nwx)
    sinu_tf = [float(dx), 0.0, float(sx0), 0.0, float(dy), float(sy0)]

    rows_native = [mk_row("p", "ref", ref_img, utm_tf, "EPSG:32734"),
                   mk_row("p", "src", src_img, utm_tf, "EPSG:32734")]
    rows_cross = [mk_row("p", "ref", ref_sinu, sinu_tf, "SINUSOIDAL"),
                  mk_row("p", "src", src_img, utm_tf, "EPSG:32734")]

    outs = []
    for rows in (rows_native, rows_cross):
        tiles = regrid_tiles(spark.createDataFrame(pd.DataFrame(rows)),
                             RES, TILE, grid_crs="EPSG:32734").cache()
        keep = tiles.filter(
            (grid.cell_row_expr("cell_id").between(cr0, cr0 + 3))
            & (grid.cell_col_expr("cell_id").between(cc0, cc0 + 3)))
        docs = spark.createDataFrame(pd.DataFrame([{
            "doc_id": "d", "spans": [
                {"kind": "media", "text": "", "media_ref": r["media_ref"],
                 "offset": i}
                for i, r in enumerate(keep.select("media_ref").collect())]}]))
        fused = fuse(docs, keep, model="gain", kernel_shape=(5, 5)).toPandas()
        img = np.full((4 * TILE, 4 * TILE), np.nan, dtype=np.float32)
        for r in fused.itertuples(index=False):
            rr = grid.cell_row(int(r.cell_id)) - cr0
            cc = grid.cell_col(int(r.cell_id)) - cc0
            img[rr * TILE:(rr + 1) * TILE, cc * TILE:(cc + 1) * TILE] = \
                decode_tile(r.gain, TILE, TILE)
        outs.append(img)

    native, cross = outs
    both = ~np.isnan(native) & ~np.isnan(cross)
    assert both.mean() > 0.9
    rel = np.abs(cross[both] - native[both]) / np.abs(native[both])
    assert np.nanmax(rel) < 1e-3, np.nanmax(rel)


@pytest.mark.parametrize("tile_crs,lon_c,lat_c", [
    ("EPSG:2154", 3.0, 46.5),      # Lambert-93 (France)
    ("EPSG:3413", -40.0, 75.0),    # NSIDC polar north
])
def test_regrid_warp_reaches_new_projections(spark, tile_crs, lon_c, lat_c):
    """Warp-path reachability for the round-4 projections: a tile stored
    in an LCC / polar-stereographic CRS regrids onto a Web-Mercator grid
    and reproduces a plane defined in TILE-CRS coordinates at the warped
    pixel centers (bilinear of a plane is exact; any dispatch or
    axis-convention error in the new transforms would corrupt this)."""
    from homonim_spark import crs as crsmod

    x_c, y_c = crsmod.lonlat_to_webmercator(lon_c, lat_c)
    cr0 = int(np.floor(y_c / CELL))
    cc0 = int(np.floor(x_c / CELL))
    # tile-CRS rectangle covering the 2x2-cell grid area with margin
    gxs = np.array([cc0 * CELL - CELL, (cc0 + 3) * CELL])
    gys = np.array([cr0 * CELL - CELL, (cr0 + 3) * CELL])
    GX, GY = np.meshgrid(gxs, gys)
    TX, TY = crsmod.transform_points("EPSG:3857", tile_crs,
                                     GX.ravel(), GY.ravel())
    tx0, ty0 = TX.min(), TY.min()
    px_t = PX  # similar metric scale
    w = int(np.ceil((TX.max() - tx0) / px_t))
    h = int(np.ceil((TY.max() - ty0) / px_t))
    tc = np.array([TX.mean(), TY.mean()])

    def plane(x, y):
        return (0.001 * (x - tc[0]) + 0.002 * (y - tc[1])).astype(np.float32)

    cols = tx0 + (np.arange(w) + 0.5) * px_t
    rows = ty0 + (np.arange(h) + 0.5) * px_t
    X, Y = np.meshgrid(cols, rows)
    t = {"image_id": "warp", "role": "src", "band": 0,
         "transform": [px_t, 0.0, float(tx0), 0.0, px_t, float(ty0)],
         "h": h, "w": w, "data": encode_tile(plane(X, Y)),
         "crs": tile_crs}
    tiles = spark.createDataFrame(pd.DataFrame([t]))
    out = regrid_tiles(tiles, RES, TILE, grid_crs="EPSG:3857").toPandas()
    cells = {(r.row, r.col): r for r in out.itertuples(index=False)}
    assert (cr0, cc0) in cells, sorted(cells)
    r = cells[(cr0, cc0)]
    arr = decode_tile(r.data, TILE, TILE)
    gx = cc0 * CELL + (np.arange(TILE) + 0.5) * PX
    gy = cr0 * CELL + (np.arange(TILE) + 0.5) * PX
    MX, MY = np.meshgrid(gx, gy)
    WX, WY = crsmod.transform_points("EPSG:3857", tile_crs,
                                     MX.ravel(), MY.ravel())
    want = plane(WX, WY).reshape(TILE, TILE)
    mask = ~np.isnan(arr)
    assert mask.mean() > 0.95
    np.testing.assert_allclose(arr[mask], want[mask], atol=0.05)


def test_windowed_lzw_predictor_ingestion_matches_deflate(spark, tmp_path):
    """Round-4 verdict #3 e2e: the SAME pixels written as LZW+predictor-2
    and as deflate ingest (windowed path) to identical tile payloads, and
    the LZW file fuses — codec breadth reaches the Spark pipeline, not just
    the codec unit."""
    from pyspark.sql import functions as F

    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.ingest import gtiff_window_rows, regrid_tiles
    from homonim_spark.tiffio import write_gtiff

    tile_px = 16
    px = grid.cell_size(RES) / tile_px
    h, w = 160, 96                              # 10 x 6 canonical cells
    rng = np.random.default_rng(23)
    img = rng.integers(1, 4000, (2, h, w)).astype(np.uint16)
    tr = (px, 0.0, 0.0, 0.0, px, 0.0)
    p_lzw = str(tmp_path / "src_lzw.tif")
    p_dfl = str(tmp_path / "src_dfl.tif")
    write_gtiff(p_lzw, img, transform=tr, nodata=0.0, compress="lzw",
                rows_per_strip=48, predictor=2, epsg=32633)  # short last strip
    write_gtiff(p_dfl, img, transform=tr, nodata=0.0, compress="deflate",
                rows_per_strip=32, epsg=32633)

    tiles_lzw = regrid_tiles(
        gtiff_window_rows(spark, [p_lzw], role="src", window_rows=64),
        RES, tile_px)
    tiles_dfl = regrid_tiles(
        gtiff_window_rows(spark, [p_dfl], role="src", window_rows=64),
        RES, tile_px)
    key = ["band", "cell_id"]
    a = tiles_lzw.select(*key, F.md5("data").alias("h_a"))
    b = tiles_dfl.select(*key, F.md5("data").alias("h_b"))
    joined = a.join(b, key, "full")
    assert joined.count() > 0
    assert joined.filter(
        F.col("h_a").isNull() | F.col("h_b").isNull()
        | (F.col("h_a") != F.col("h_b"))).count() == 0

    # and the LZW-ingested tiles fuse end-to-end against a 2x-coarser ref
    ref_img = (img[:, ::2, ::2].astype(np.float32) * 1.5 + 10.0)
    p_ref = str(tmp_path / "ref_lzw.tif")
    write_gtiff(p_ref, ref_img, transform=(2 * px, 0.0, 0.0, 0.0, 2 * px, 0.0),
                nodata=0.0, compress="lzw", rows_per_strip=40, epsg=32633)
    ref_tiles = regrid_tiles(
        gtiff_window_rows(spark, [p_ref], role="ref", window_rows=40),
        RES, tile_px // 2)
    tiles = tiles_lzw.unionByName(ref_tiles) \
        .withColumn("image_id", F.lit("pair0")).cache()
    docs = spark.createDataFrame(pd.DataFrame([{
        "doc_id": "lzw-doc",
        "spans": [{"kind": "media", "text": "", "media_ref": m, "offset": i}
                  for i, m in enumerate(
                      r["media_ref"]
                      for r in tiles.select("media_ref").collect())],
    }]))
    from homonim_spark.operators.fuse import fuse
    fused = fuse(docs, tiles, model="gain", kernel_shape=(1, 1))
    assert fused.count() > 0


# --- resampling-method dispatch (lanczos/cubic/nearest image regrid) ---------

def _sine_field(xs, ys, period_px=12.0):
    """Band-limited world 'image': low-frequency 2-D sine (period ≫ source
    pixel), so lanczos/cubic interpolation must reconstruct it accurately."""
    return (np.sin(2 * np.pi * xs / (period_px * PX))
            + np.cos(2 * np.pi * ys / (period_px * PX))).astype(np.float32)


def test_regrid_resampling_identity_exact(spark):
    """A tile already ON the canonical grid regrids to itself bit-for-bit
    under every sampler: at integer pixel coords all four kernels are a
    delta (lanczos/cubic weights vanish at nonzero integer offsets)."""
    rng = np.random.default_rng(3)
    arr = rng.normal(size=(TILE, TILE)).astype(np.float32)
    arr[5, 7] = np.nan  # a nodata hole must stay a hole (den = 0 -> NaN)
    t = {"image_id": "idq", "role": "src", "band": 0,
         "transform": [PX, 0.0, 0.0, 0.0, PX, 0.0],
         "h": TILE, "w": TILE, "data": encode_tile(arr)}
    for method in ("nearest", "bilinear", "cubic", "lanczos"):
        out = regrid_tiles(spark.createDataFrame(pd.DataFrame([t])), RES, TILE,
                           resampling=method).toPandas()
        row = out[(out.row == 0) & (out.col == 0)].iloc[0]
        got = decode_tile(row.data, TILE, TILE)
        if method == "bilinear":
            # strict mask propagation: the hole may dilate to the zero-weight
            # corners of adjacent integer positions (documented contract)
            assert np.isnan(got[5, 7])
            assert np.isnan(got).sum() <= 4
        else:
            np.testing.assert_array_equal(
                np.isnan(got), np.isnan(arr), err_msg=method)
        m = ~np.isnan(got)
        np.testing.assert_allclose(got[m], arr[m], rtol=1e-6, err_msg=method)


def test_regrid_lanczos_reconstructs_bandlimited_field(spark):
    """Lanczos-3 regrid of a smooth sine onto a shifted finer grid
    reconstructs the continuous field far inside the reference's own
    corrected-value tolerance (abs 2 on reflectance-scale data).  Max
    error is NOT required to beat bilinear here — normalized Lanczos has
    an intrinsic ~2e-2 phase-dependent ramp error (GDAL's does too); its
    advantage is high-frequency preservation, asserted separately below."""
    px_in = 0.45 * PX
    w = int((2.4 * CELL) / px_in)
    h = int((1.4 * CELL) / px_in)
    ox, oy = -0.2 * CELL, -0.2 * CELL
    cols = (np.arange(w) + 0.5) * px_in + ox
    rows = (np.arange(h) + 0.5) * px_in + oy
    X, Y = np.meshgrid(cols, rows)
    t = {"image_id": "lz", "role": "src", "band": 0,
         "transform": [px_in, 0.0, ox, 0.0, px_in, oy],
         "h": h, "w": w, "data": encode_tile(_sine_field(X, Y))}
    gx = (np.arange(TILE) + 0.5) * PX
    GX, GY = np.meshgrid(gx, gx)
    want = _sine_field(GX, GY)
    out = regrid_tiles(spark.createDataFrame(pd.DataFrame([t])), RES,
                       TILE, resampling="lanczos").toPandas()
    row = out[(out.row == 0) & (out.col == 0)].iloc[0]
    got = decode_tile(row.data, TILE, TILE)
    m = ~np.isnan(got)
    assert m.mean() > 0.95
    assert float(np.abs(got[m] - want[m]).max()) < 2e-2   # 100x under ref tol


def test_lanczos_preserves_high_frequency_detail():
    """The reason the reference defaults reprojection to Lanczos: near-
    Nyquist detail survives.  At ν = 0.25 cycles/sample bilinear attenuates
    amplitude to cos(π·0.25) ≈ 0.71 at half-pixel phase; Lanczos-3 keeps
    gain ≈ 1.  Pure-numpy check of the samplers themselves."""
    from homonim_spark.operators.ingest import kernel_sample
    n = 64
    x = np.arange(n, dtype=np.float64)
    arr = np.tile(np.sin(2 * np.pi * 0.25 * x).astype(np.float32), (n, 1))
    ys = np.full(300, 32.0)
    xs = np.linspace(10, 50, 300)
    want = np.sin(2 * np.pi * 0.25 * xs)
    e_lz = np.abs(kernel_sample(arr, ys, xs, "lanczos") - want).max()
    e_bl = np.abs(bilinear_sample(arr, ys, xs) - want).max()
    assert e_bl > 0.15            # bilinear loses a large amplitude fraction
    assert e_lz < e_bl / 8        # lanczos keeps the detail (measured ~0.017)


def test_regrid_cubic_reproduces_linear_plane(spark):
    """Catmull-Rom reproduces polynomials up to degree 1 exactly — the
    world plane fixture must come back exact at canonical centers."""
    px_in = 0.45 * PX
    w = int((2.4 * CELL) / px_in)
    h = int((1.4 * CELL) / px_in)
    t = make_input_tile("cb", "src", 0, px_in, (-0.2 * CELL, -0.2 * CELL), h, w)
    out = regrid_tiles(spark.createDataFrame(pd.DataFrame([t])), RES, TILE,
                       resampling="cubic").toPandas()
    row = out[(out.row == 0) & (out.col == 0)].iloc[0]
    arr = decode_tile(row.data, TILE, TILE)
    gx = (np.arange(TILE) + 0.5) * PX
    X, Y = np.meshgrid(gx, gx)
    want = world_gradient(X, Y)
    m = ~np.isnan(arr)
    assert m.mean() > 0.9
    np.testing.assert_allclose(arr[m], want[m], rtol=1e-4)


def test_regrid_rejects_unknown_resampling(spark):
    t = make_input_tile("bad", "src", 0, PX, (0.0, 0.0), TILE, TILE)
    with pytest.raises(ValueError, match="resampling"):
        regrid_tiles(spark.createDataFrame(pd.DataFrame([t])), RES, TILE,
                     resampling="sinc9000")
