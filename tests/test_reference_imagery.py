"""End-to-end fuse over the REFERENCE'S OWN real test imagery.

The reference repo ships actual aerial/satellite data
(``tests/data/source/ngi_rgb_byte_*.tif`` — 5 m NGI aerial RGB — and
``tests/data/reference/sentinel2_b432_byte.tif`` — 10 m Sentinel-2 B4/B3/B2),
used by its integration tests and tutorial.  With the pure-python TIFF
reader we run the engine's whole real-data path on them: decode → regrid
onto the canonical cell grid → fuse (gain-blk-offset 5×5, proc=ref) →
compare.  Success criterion mirrors the reference's own
(``tests/test_fuse_api.py`` proc-crs/compare cases and the docs tutorial):
the corrected mosaic must be substantially MORE similar to the reference
image than the raw source was, per band.
"""

import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from homonim_spark import grid
from homonim_spark.operators.compare import compare
from homonim_spark.operators.fuse import fuse
from homonim_spark.operators.ingest import regrid_tiles
from homonim_spark.tiffio import read_gtiff
from homonim_spark.tiles import encode_tile

SRC_TIF = "/root/reference/tests/data/source/ngi_rgb_byte_1.tif"
REF_TIF = "/root/reference/tests/data/reference/sentinel2_b432_byte.tif"
RES = 12                    # cell = 2^(20-12) = 256 world units (m)
REF_TILE, SRC_TILE = 16, 32  # 16 m/px ref grid, 8 m/px src grid

pytestmark = pytest.mark.skipif(
    not (os.path.exists(SRC_TIF) and os.path.exists(REF_TIF)),
    reason=f"reference imagery absent: {SRC_TIF}, {REF_TIF}")


def _image_rows(path: str, image_id: str, role: str, nodata: float):
    """One regrid-input row per band: the whole image as a single tile with
    its native affine transform (a, b, c, d, e, f)."""
    t = read_gtiff(path)
    a, b, c, d, e, f = t.transform
    rows = []
    arr = t.data.astype(np.float32)
    if nodata is not None:
        arr[t.data == nodata] = np.nan
    for band in range(arr.shape[0]):
        rows.append({
            "image_id": image_id, "role": role, "band": band,
            "transform": [a, b, c, d, e, f],
            "h": arr.shape[1], "w": arr.shape[2],
            "data": encode_tile(arr[band]),
        })
    return rows


@pytest.fixture(scope="module")
def real_tiles(spark):
    rows = (_image_rows(SRC_TIF, "ngi1", "src", nodata=0.0)
            + _image_rows(REF_TIF, "ngi1", "ref", nodata=0.0))
    raw = spark.createDataFrame(pd.DataFrame(rows))
    src = regrid_tiles(raw.filter("role = 'src'"), RES, SRC_TILE)
    ref = regrid_tiles(raw.filter("role = 'ref'"), RES, REF_TILE)
    tiles = src.unionByName(ref).cache()
    # keep only cells where the source has data (the ref image is a much
    # larger scene; fuse pairs per-cell anyway, this just trims the compare)
    src_cells = tiles.filter("role = 'src'").select("cell_id").distinct()
    tiles = tiles.join(src_cells, "cell_id", "left_semi").cache()
    docs = spark.createDataFrame(pd.DataFrame([{
        "doc_id": "ngi1-doc",
        "spans": [{"kind": "media", "text": "", "media_ref": m, "offset": i}
                  for i, m in enumerate(
                      r["media_ref"] for r in tiles.select("media_ref").collect())],
    }]))
    return docs, tiles


def test_real_imagery_fuse_improves_similarity(spark, real_tiles):
    docs, tiles = real_tiles
    before = {r["band"]: r for r in compare(tiles).collect()}
    assert set(before) == {0, 1, 2}

    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
                 proc_crs="auto").cache()
    n_out = fused.count()
    assert n_out > 0

    # corrected tiles replace the source payloads; ref side unchanged
    corr = (tiles.filter("role = 'src'")
            .drop("data", "h", "w")
            .join(fused.select("media_ref", F.col("corr").alias("data"),
                               # fused h/w record the PARAM (proc-grid) tile
                               # size; corr payloads live on the src grid
                               F.lit(SRC_TILE).alias("h"),
                               F.lit(SRC_TILE).alias("w")),
                  "media_ref", "inner"))
    after_tiles = corr.select(*tiles.columns).unionByName(
        tiles.filter("role = 'ref'"))
    after = {r["band"]: r for r in compare(after_tiles).collect()}

    for band in (0, 1, 2):
        r2_raw, r2_corr = before[band]["r2"], after[band]["r2"]
        # raw aerial vs satellite radiometry correlates weakly; corrected
        # must be strongly similar (reference tutorial behaviour)
        assert r2_corr > r2_raw + 0.05, (band, r2_raw, r2_corr)
        assert r2_corr > 0.8, (band, r2_corr)
        assert after[band]["rrmse"] < before[band]["rrmse"]


def test_binaryfile_ingestion_matches_driver_path(spark):
    """Executor-side ingestion (spark.read.format('binaryFile') →
    read_gtiff(bytes) in executors → regrid) must be numerically identical
    to the driver-side read_gtiff(path) path on the reference's 4 real NGI
    aerial files, and the fused output must be produced from it."""
    from homonim_spark.operators.ingest import gtiff_band_rows, ingest_gtiff_files

    exec_side = ingest_gtiff_files(
        spark, "/root/reference/tests/data/source/ngi_rgb_byte_[1234].tif",
        role="src", res=RES, tile_px=SRC_TILE, nodata=0.0).cache()

    rows = []
    for i in (1, 2, 3, 4):
        rows += _image_rows(
            f"/root/reference/tests/data/source/ngi_rgb_byte_{i}.tif",
            f"ngi_rgb_byte_{i}", "src", nodata=0.0)
    driver_side = regrid_tiles(
        spark.createDataFrame(pd.DataFrame(rows)), RES, SRC_TILE).cache()

    n = exec_side.count()
    assert n == driver_side.count() > 0
    # bit-identical payloads per (image, band, cell)
    key = ["image_id", "band", "cell_id"]
    joined = exec_side.select(*key, F.md5("data").alias("h_a")).join(
        driver_side.select(*key, F.md5("data").alias("h_b")), key, "full")
    mismatched = joined.filter(
        F.col("h_a").isNull() | F.col("h_b").isNull()
        | (F.col("h_a") != F.col("h_b"))).count()
    assert mismatched == 0

    # and the executor-ingested tiles fuse end-to-end
    ref = ingest_gtiff_files(spark, REF_TIF, role="ref",
                             res=RES, tile_px=REF_TILE, nodata=0.0)
    images = [r["image_id"] for r in exec_side.select("image_id").distinct().collect()]
    ref = ref.drop("image_id").crossJoin(
        spark.createDataFrame(pd.DataFrame({"image_id": images})))
    tiles = exec_side.unionByName(ref.select(*exec_side.columns))
    tiles = tiles.join(tiles.filter("role = 'src'")
                       .select("image_id", "cell_id").distinct(),
                       ["image_id", "cell_id"], "left_semi")
    docs = spark.createDataFrame(pd.DataFrame([{
        "doc_id": f"doc-{img}",
        "spans": [{"kind": "media", "text": "", "media_ref": m, "offset": j}
                  for j, m in enumerate(
                      r["media_ref"] for r in tiles
                      .filter(F.col("image_id") == img)
                      .select("media_ref").collect())],
    } for img in images]))
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5))
    assert fused.count() > 0


def test_real_imagery_grid_contract(spark, real_tiles):
    """Regridded tiles satisfy the aligned-grid contract fuse relies on."""
    _, tiles = real_tiles
    sizes = {r["role"]: r["h"] for r in
             tiles.groupBy("role").agg(F.max("h").alias("h")).collect()}
    assert sizes == {"src": SRC_TILE, "ref": REF_TILE}
    # every cell is at the canonical resolution
    bad = tiles.filter(
        grid.cell_res_expr(F.col("cell_id")) != F.lit(RES)).count()
    assert bad == 0


def test_real_mosaic_four_sources_one_job(spark):
    """The reference's primary workflow: correct a multi-image aerial
    mosaic (4 NGI files) against one satellite reference — each source is
    its own image_id, all corrected in ONE Spark job (the reference loops
    RasterFuse per file; the engine fuses the whole batch in one plan)."""
    src_files = [f"/root/reference/tests/data/source/ngi_rgb_byte_{i}.tif"
                 for i in (1, 2, 3, 4)]
    rows = []
    for i, p in enumerate(src_files, 1):
        rows += _image_rows(p, f"ngi{i}", "src", nodata=0.0)
    raw_src = spark.createDataFrame(pd.DataFrame(rows))
    src = regrid_tiles(raw_src, RES, SRC_TILE)

    # one reference scene, re-keyed per source image (the engine pairs on
    # image_id; a broadcast-size metadata op)
    ref_rows = _image_rows(REF_TIF, "ref", "ref", nodata=0.0)
    ref_all = regrid_tiles(spark.createDataFrame(pd.DataFrame(ref_rows)),
                           RES, REF_TILE)
    images = [f"ngi{i}" for i in (1, 2, 3, 4)]
    ref = ref_all.drop("image_id").crossJoin(
        spark.createDataFrame(pd.DataFrame({"image_id": images})))
    tiles = src.unionByName(ref.select(*src.columns))
    tiles = tiles.join(tiles.filter("role = 'src'")
                       .select("image_id", "cell_id").distinct(),
                       ["image_id", "cell_id"], "left_semi").cache()

    docs = spark.createDataFrame(pd.DataFrame([{
        "doc_id": f"doc-{img}",
        "spans": [{"kind": "media", "text": "", "media_ref": m, "offset": j}
                  for j, m in enumerate(
                      r["media_ref"] for r in tiles
                      .filter(F.col("image_id") == img)
                      .select("media_ref").collect())],
    } for img in images]))

    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5)).cache()
    out_images = {r["image_id"] for r in fused.select("image_id").distinct().collect()}
    assert out_images == set(images)

    corr = (tiles.filter("role = 'src'").drop("data", "h", "w")
            .join(fused.select("media_ref", F.col("corr").alias("data"),
                               F.lit(SRC_TILE).alias("h"),
                               F.lit(SRC_TILE).alias("w")),
                  "media_ref", "inner"))
    after_tiles = corr.select(*tiles.columns).unionByName(
        tiles.filter("role = 'ref'"))
    before = compare(tiles).toPandas().set_index(["image_id", "band"])
    after = compare(after_tiles).toPandas().set_index(["image_id", "band"])
    for img in images:
        for band in (0, 1, 2):
            assert after.loc[(img, band), "r2"] > 0.8, (img, band)
            assert (after.loc[(img, band), "r2"]
                    > before.loc[(img, band), "r2"] + 0.05)
