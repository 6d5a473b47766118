"""VRT scan (S1 completion): mosaic sources, world transforms, and real
band-matching metadata from the reference repo's own .vrt files."""

import os

import numpy as np
import pandas as pd
import pytest

from homonim_spark.tiffio import read_gtiff
from homonim_spark.vrtio import read_vrt, vrt_band_metadata, vrt_sources

MOSAIC_VRT = "/root/reference/tests/data/source/ngi_mosaic_rgb_byte.vrt"
LANDSAT_VRT = "/root/reference/tests/data/reference/landsat8_byte.vrt"
pytestmark = pytest.mark.skipif(
    not (os.path.exists(MOSAIC_VRT) and os.path.exists(LANDSAT_VRT)),
    reason=f"reference VRTs absent: {MOSAIC_VRT}, {LANDSAT_VRT}")


def test_mosaic_vrt_sources_recover_native_transforms():
    """Each VRT source's derived WORLD transform equals the source file's
    own geotransform (GDAL computed DstRect from exactly those)."""
    info = read_vrt(MOSAIC_VRT)
    assert (info.width, info.height) == (1326, 2266)
    srcs = info.sources
    assert len(srcs) == 12  # 3 bands x 4 NGI files
    by_file = {}
    for s in srcs:
        by_file.setdefault(s.filename, []).append(s)
    assert len(by_file) == 4
    for path, entries in by_file.items():
        native = read_gtiff(path).transform
        for s in entries:
            np.testing.assert_allclose(s.transform, native, rtol=0, atol=1e-6)
            assert s.nodata == 0.0


def test_landsat_vrt_band_metadata():
    meta = vrt_band_metadata(LANDSAT_VRT)
    assert len(meta) == 24
    by_name = {m.get("name"): m for m in meta}
    assert by_name["SR_B4"]["center_wavelength"] == pytest.approx(0.655)
    assert by_name["SR_B2"]["center_wavelength"] == pytest.approx(0.482)
    # non-reflectance bands carry no wavelength
    assert "center_wavelength" not in by_name["ST_CDIST"] or \
        not isinstance(by_name["ST_CDIST"].get("center_wavelength"), float)


def test_rgb_aerial_matches_landsat_sr_bands():
    """J2/J4 on REAL metadata: an RGB aerial source (no wavelengths, color
    interp only) matches Landsat-8 SR_B4/SR_B3/SR_B2 — the reference's own
    expected pairing (tests/test_matched_pair.py: s2/ngi → [4, 3, 2])."""
    from homonim_spark.operators.matching import match_bands
    meta = vrt_band_metadata(LANDSAT_VRT)
    ref = pd.DataFrame([{
        "band": m["band"] - 1,
        "name": m.get("name"),
        "center_wavelength": m.get("center_wavelength")
        if isinstance(m.get("center_wavelength"), float) else None,
    } for m in meta])
    src = pd.DataFrame({
        "band": [0, 1, 2],
        "colorinterp": ["red", "green", "blue"],
    })
    bm = match_bands(src, ref)
    got = dict(zip(bm["src_band"], bm["ref_band"]))
    assert got == {0: 3, 1: 2, 2: 1}  # 0-based SR_B4, SR_B3, SR_B2


def test_vrt_mosaic_fuse_end_to_end(spark):
    """The VRT mosaic enters the engine as per-source fragments; the
    canonical grid mosaics them (overlap-average) and fuse corrects the
    whole mosaic against Sentinel-2 in one job."""
    from pyspark.sql import functions as F

    from homonim_spark.operators.compare import compare
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.ingest import regrid_tiles
    from homonim_spark.tiles import encode_tile
    from tests.test_reference_imagery import (REF_TIF, REF_TILE, RES,
                                              SRC_TILE, _image_rows)

    rows = []
    for s in vrt_sources(MOSAIC_VRT):
        t = read_gtiff(s.filename)
        arr = t.data[s.source_band - 1].astype(np.float32)
        if s.nodata is not None:
            arr[arr == s.nodata] = np.nan
        rows.append({
            "image_id": "mosaic", "role": "src", "band": s.vrt_band - 1,
            "transform": list(s.transform),
            "h": arr.shape[0], "w": arr.shape[1],
            "data": encode_tile(arr),
        })
    raw_src = spark.createDataFrame(pd.DataFrame(rows))
    src = regrid_tiles(raw_src, RES, SRC_TILE)
    ref = regrid_tiles(spark.createDataFrame(pd.DataFrame(
        _image_rows(REF_TIF, "mosaic", "ref", nodata=0.0))), RES, REF_TILE)
    tiles = src.unionByName(ref)
    tiles = tiles.join(tiles.filter("role = 'src'").select("cell_id").distinct(),
                       "cell_id", "left_semi").cache()

    docs = spark.createDataFrame(pd.DataFrame([{
        "doc_id": "mosaic-doc",
        "spans": [{"kind": "media", "text": "", "media_ref": m, "offset": i}
                  for i, m in enumerate(
                      r["media_ref"] for r in tiles.select("media_ref").collect())],
    }]))
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5)).cache()
    assert fused.count() > 0

    corr = (tiles.filter("role = 'src'").drop("data", "h", "w")
            .join(fused.select("media_ref", F.col("corr").alias("data"),
                               F.lit(SRC_TILE).alias("h"),
                               F.lit(SRC_TILE).alias("w")), "media_ref"))
    after = compare(corr.select(*tiles.columns)
                    .unionByName(tiles.filter("role = 'ref'"))).toPandas()
    assert (after["r2"] > 0.8).all(), after


def test_band_matched_fuse_against_real_landsat(spark):
    """J2–J4 + fuse over REAL data: the 3-band NGI aerial source fuses
    against the 24-band Landsat-8 surface-reflectance stack; the band map
    comes from the VRT's real center_wavelength metadata (RGB imputation on
    the source side), and only the matched SR_B4/SR_B3/SR_B2 reference
    bands enter the pairing."""
    from pyspark.sql import functions as F

    from homonim_spark.operators.compare import compare
    from homonim_spark.operators.fuse import fuse
    from homonim_spark.operators.ingest import regrid_tiles
    from homonim_spark.operators.matching import match_bands
    from homonim_spark.tiles import encode_tile
    from tests.test_reference_imagery import _image_rows

    RES11, REF_T, SRC_T = 11, 16, 64      # cell 512 m: ref 32 m/px, src 8 m/px
    LANDSAT_TIF = "/root/reference/tests/data/reference/landsat8_byte.tif"
    NGI_TIF = "/root/reference/tests/data/source/ngi_rgb_byte_1.tif"

    meta = vrt_band_metadata(LANDSAT_VRT)
    ref_meta = pd.DataFrame([{
        "band": m["band"] - 1, "name": m.get("name"),
        "center_wavelength": m.get("center_wavelength")
        if isinstance(m.get("center_wavelength"), float) else None,
    } for m in meta])
    src_meta = pd.DataFrame({"band": [0, 1, 2],
                             "colorinterp": ["red", "green", "blue"]})
    bm = match_bands(src_meta, ref_meta)
    assert dict(zip(bm["src_band"], bm["ref_band"])) == {0: 3, 1: 2, 2: 1}

    src_rows = _image_rows(NGI_TIF, "bm1", "src", nodata=0.0)
    # regrid only the matched reference bands (the matcher prunes the scan)
    ref_all = _image_rows(LANDSAT_TIF, "bm1", "ref", nodata=0.0)
    wanted = set(bm["ref_band"])
    ref_rows = [r for r in ref_all if r["band"] in wanted]
    assert len(ref_rows) == 3

    src = regrid_tiles(spark.createDataFrame(pd.DataFrame(src_rows)), RES11, SRC_T)
    ref = regrid_tiles(spark.createDataFrame(pd.DataFrame(ref_rows)), RES11, REF_T)
    tiles = src.unionByName(ref)
    tiles = tiles.join(tiles.filter("role = 'src'").select("cell_id").distinct(),
                       "cell_id", "left_semi").cache()

    docs = spark.createDataFrame(pd.DataFrame([{
        "doc_id": "bm1-doc",
        "spans": [{"kind": "media", "text": "", "media_ref": m, "offset": i}
                  for i, m in enumerate(
                      r["media_ref"] for r in tiles.select("media_ref").collect())],
    }]))
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
                 band_map=bm).cache()
    assert fused.count() > 0
    assert set(r["band"] for r in fused.select("band").distinct().collect()) \
        == {0, 1, 2}  # output keyed by SOURCE bands

    # compare in matched band space: re-key the ref tiles like the fuse did
    from homonim_spark.operators.fuse import apply_band_map
    matched_tiles = apply_band_map(tiles, bm).cache()
    before = compare(matched_tiles).toPandas().set_index("band")
    corr = (matched_tiles.filter("role = 'src'").drop("data", "h", "w")
            .join(fused.select("media_ref", F.col("corr").alias("data"),
                               F.lit(SRC_T).alias("h"), F.lit(SRC_T).alias("w")),
                  "media_ref"))
    after = compare(corr.select(*matched_tiles.columns)
                    .unionByName(matched_tiles.filter("role = 'ref'"))
                    ).toPandas().set_index("band")
    for band in (0, 1, 2):
        assert after.loc[band, "r2"] > before.loc[band, "r2"] + 0.05
        assert after.loc[band, "r2"] > 0.7, (band, dict(after.loc[band]))
