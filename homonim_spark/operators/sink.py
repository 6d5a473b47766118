"""Sinks: corrected-image output with dtype conversion, overview pyramids.

Reference: ``RasterArray.to_rio_dataset`` + ``_convert_array_dtype``
(``/root/reference/homonim/raster_array.py:424-500,353-387``) — dtype
promote/round/clip + nodata rewrite on write — and the overview build
(``/root/reference/homonim/fuse.py:151-165``): power-of-2 downsampled
pyramids, ≤8 levels, min 256 px.

Spark-native: the dtype conversion is a
:func:`~homonim_spark.tiles.map_tile_batches` UDF on the write path (numpy
semantics identical to the reference: round-half-to-even, clip to iinfo
bounds); the GeoTIFF export and each overview level are
:func:`~homonim_spark.tiles.map_tile_groups` stages — one group per image,
and one per parent cell of the H3-style grid with block-mean averaging,
exactly the aperture-4 hierarchy.
"""

from __future__ import annotations

import math
from typing import Optional

import numpy as np
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homonim_spark import grid
from homonim_spark.kernel import ops
from homonim_spark.tiles import (TILE_DTYPE, convert_array_dtype, decode_tile,
                                 map_tile_batches, map_tile_groups)

_OUT_TILE_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("media_ref", T.StringType(), True),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("dtype", T.StringType(), False),
    T.StructField("nodata", T.DoubleType(), True),
    T.StructField("data", T.BinaryType(), False),
])

_EXPORT_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType()),
    T.StructField("path", T.StringType()),
    T.StructField("n_bands", T.IntegerType()),
    T.StructField("height", T.IntegerType()),
    T.StructField("width", T.IntegerType()),
])


def convert_tiles(
    fused: DataFrame,
    dtype: str = "float32",
    nodata: Optional[float] = None,
) -> DataFrame:
    """Dtype-convert the fused ``corr`` payloads for the sink (S6/S7).

    Every corrected tile is square, so its side comes from the payload
    length (the fused ``h``/``w`` columns describe the parameter tile).
    Conversion semantics match the reference exactly
    (``raster_array.py:353-387``): promote → clip to integer bounds →
    ``np.round`` (half-to-even) → rewrite masked pixels to ``nodata``.
    """

    def conv(image_id, band, cell_id, media_ref, data):
        if data is None:
            return
        side = math.isqrt(data.size // TILE_DTYPE.itemsize)
        if side * side * TILE_DTYPE.itemsize != data.size:
            raise ValueError(
                f"convert_tiles: payload of {data.size} bytes for "
                f"(image_id={image_id}, band={band}, cell_id={cell_id}) "
                f"is not a square tile")
        yield (image_id, band, cell_id, media_ref, side, side, dtype, nodata,
               convert_array_dtype(decode_tile(data, side, side), dtype, nodata))

    return map_tile_batches(fused.select("image_id", "band", "cell_id", "media_ref", "corr"),
                            conv, _OUT_TILE_SCHEMA)


def write_corrected(
    fused: DataFrame, path: str, dtype: str = "float32",
    nodata: Optional[float] = None,
) -> None:
    """S6/S8: corrected-tile sink — parquet partitioned by band (the
    columnar stand-in for the Iceberg table; band partitioning gives the
    same partition pruning the reference gets from per-band reads)."""
    out = convert_tiles(fused, dtype, nodata)
    out.write.mode("overwrite").partitionBy("band").parquet(path)


def export_corrected_gtiff(
    fused: DataFrame, out_dir: str, dtype: str = "float32",
    nodata: Optional[float] = None, tile: Optional[tuple] = (256, 256),
    epsg: Optional[int] = None, build_ovw: bool = False, ovw_min_px: int = 256,
    scale_h: int = 1,  # ignored: perfbench/workloads.py:run_pipeline passes it
) -> DataFrame:
    """S8 file-format parity: write ONE corrected GeoTIFF per image — the
    artifact a homonim user actually consumes (the reference writes
    ``*_FUSE_*.tif`` via rasterio, ``fuse.py:193-252``).  With
    ``build_ovw`` each export also carries internal overview IFDs
    (power-of-2 average pyramid, the reference's ``--build-ovw`` default,
    ``fuse.py:152-165,287``) — built in the same executor task, no extra
    Spark stage.

    Distributed per image: tiles are dtype-converted by
    :func:`convert_tiles` and grouped by ``image_id``
    (:func:`~homonim_spark.tiles.map_tile_groups`), and each
    group's executor assembles the image canvas from its cells and writes
    a tiled/deflate GTiff (``tiffio.write_gtiff``) with the canonical-grid
    transform and nodata tag.  Per-task memory is one output IMAGE — the
    same bound as the reference's sequential single-file writer; for
    mosaics beyond executor memory, write windows to the parquet/Iceberg
    sink instead and export lazily.  Returns (image_id, band?, path, h, w)
    manifest rows — paths are executor-local, so ``out_dir`` must be
    shared storage on a real cluster.
    """
    conv = convert_tiles(fused, dtype, nodata)

    def write_image(image_id, rows):
        # grid resolution is encoded in every cell id, so the geotransform
        # cannot disagree with the data's resolution
        band, cell_id, h, w, data = zip(*rows)
        cell_sz = grid.cell_size(int(grid.cell_res(cell_id[0])))
        t = max(h)
        crow = grid.cell_row(np.array(cell_id))
        ccol = grid.cell_col(np.array(cell_id))
        r0, c0 = int(crow.min()), int(ccol.min())
        nb = max(band) + 1
        H = (int(crow.max()) - r0 + 1) * t
        W = (int(ccol.max()) - c0 + 1) * t
        dt = np.dtype(dtype)
        nd = nodata if nodata is not None else \
            (np.nan if dt.kind == "f" else 0)
        canvas = np.full((nb, H, W), nd, dtype=dt)
        for b, r, c, hh, ww, d in zip(band, crow, ccol, h, w, data):
            rr, cc = (int(r) - r0) * t, (int(c) - c0) * t
            canvas[b, rr: rr + hh, cc: cc + ww] = \
                np.frombuffer(d, dtype=dt.newbyteorder("<")).reshape(hh, ww)
        # the engine grid's row axis points toward +y; GeoTIFF convention
        # is north-up (y decreasing with row) — flip rows and anchor the
        # tiepoint at the top edge so any GIS reader sees the right world
        canvas = canvas[:, ::-1, :]
        px = cell_sz / t
        transform = (px, 0.0, c0 * cell_sz, 0.0, -px,
                     (r0 * cell_sz) + H * px)
        from homonim_spark.tiffio import build_overviews, write_gtiff
        path = f"{out_dir}/{image_id}_FUSE.tif"
        ovw = (build_overviews(canvas, nodata=nodata,
                               min_level_pixels=ovw_min_px)
               if build_ovw else None)
        write_gtiff(path, canvas, transform=transform,
                    nodata=None if nodata is None else float(nodata),
                    tile=tile, epsg=epsg, overviews=ovw)
        yield image_id, path, nb, H, W

    import os as _os
    _os.makedirs(out_dir, exist_ok=True)
    return map_tile_groups(conv.select("image_id", "band", "cell_id", "h", "w", "data"),
                           ("image_id",), write_image, _EXPORT_SCHEMA)


def run_manifest(model, kernel_shape, proc_crs, bands: int,
                 find_r2: bool = False, extra: Optional[dict] = None) -> dict:
    """S10: the metadata tag set the reference writes on outputs
    (``FUSE_*`` tags + per-band descriptions ``B1_GAIN``…,
    ``/root/reference/homonim/fuse.py:193-252``) — attach to the output
    table as properties / a manifest JSON via ``lineage.StageRunner``."""
    n_param = 3 if find_r2 else 2
    band_names = []
    for kind_i, kind in enumerate(("GAIN", "OFFSET", "R2")[:n_param]):
        band_names += [f"B{b + 1}_{kind}" for b in range(bands)]
    return {
        "FUSE_SRC_FILE": extra.get("src") if extra else None,
        "FUSE_REF_FILE": extra.get("ref") if extra else None,
        "FUSE_MODEL": str(model),
        "FUSE_KERNEL_SHAPE": tuple(kernel_shape),
        "FUSE_PROC_CRS": str(proc_crs),
        "band_descriptions": band_names,
    }


_OVERVIEW_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("data", T.BinaryType(), False),
])


def _coarsen_level(tiles: DataFrame) -> DataFrame:
    """One pyramid level: 4 child tiles → 1 parent tile at half resolution.

    Grouped by parent(cell_id) — a single shuffle whose groups are exactly
    4 rows; each child is decoded at its own ``h``×``w`` into a canvas of
    twice the largest child, then block-mean downsampled (NaN-aware
    average, the reference's overview resampling default).
    """

    def coarsen(image_id, band, parent_id, rows):
        h, w = max(r[1] for r in rows), max(r[2] for r in rows)
        canvas = np.full((2 * h, 2 * w), np.nan, dtype=np.float32)
        for cell_id, th, tw, data in rows:
            r0, c0 = (grid.cell_row(cell_id) & 1) * h, (grid.cell_col(cell_id) & 1) * w
            canvas[r0 : r0 + th, c0 : c0 + tw] = decode_tile(data, th, tw)
        yield image_id, band, parent_id, h, w, ops.downsample_average(canvas, (2, 2))

    src = tiles.select("image_id", "band", "cell_id", "h", "w", "data",
                       grid.parent_expr("cell_id").alias("parent_id"))
    return map_tile_groups(src, ("image_id", "band", "parent_id"), coarsen, _OVERVIEW_SCHEMA)


def _overview_level_col(min_shape: Column, max_levels: int, min_px: int) -> Column:
    """:func:`tiffio.overview_level_count` as a Column over the shortest
    image side in pixels, in exact integer math: floor(log2(n)) ==
    length(bin(n)) - 1 for n ≥ 1, so no float-log boundary drift."""
    max_ovw = F.length(F.bin(min_shape)) - F.lit(1)
    return F.when(
        min_shape < 1, F.lit(0)
    ).otherwise(F.greatest(F.lit(0), F.least(F.lit(int(max_levels)),
                                             max_ovw - F.lit(int(np.log2(min_px))))))


def build_overviews(
    tiles: DataFrame, max_levels: int = 8, min_px: int = 256,
) -> list[DataFrame]:
    """S9: overview pyramid with the reference's stop rule
    (``/root/reference/homonim/fuse.py:151-165``) enforced per image:
    each image gets ``min(max_levels, floor(log2(min_shape)) −
    log2(min_px))`` levels, computed from tile metadata (cell extent times
    the rows' ``h``/``w``; one metadata-scale aggregate — payloads never
    reach the driver).  Each returned DataFrame is one level, lazily
    defined, one 4-rows-per-group shuffle per level; images whose rule
    stops earlier simply drop out of deeper levels."""
    row, col = grid.cell_row_expr("cell_id"), grid.cell_col_expr("cell_id")
    # Per-image level counts COMPUTED AS A COLUMN — no image list ever
    # reaches the driver (at 100 TB the former driver round-trip was
    # O(n_images) rows pulled plus O(n_images) rebuilt per level).
    min_shape = F.least(F.col("ch") * F.col("h"), F.col("cw") * F.col("w"))
    n_levels_col = _overview_level_col(min_shape, max_levels, min_px)
    lvl = (tiles.groupBy("image_id")
           .agg((F.max(row) - F.min(row) + 1).alias("ch"),
                (F.max(col) - F.min(col) + 1).alias("cw"),
                F.max("h").alias("h"), F.max("w").alias("w"))
           .select("image_id", n_levels_col.alias("n_levels")))
    # the ONE driver-visible value: the pyramid depth (a scalar aggregate)
    total = lvl.agg(F.max("n_levels")).first()[0] or 0
    levels = []
    cur = tiles
    for i in range(total):
        # per-level image filter as a broadcast semi-join — an isin() list
        # would grow the plan linearly with image count (100 TB = millions
        # of images); the joined dim stays metadata-scale
        live = lvl.filter(F.col("n_levels") >= i + 1).select("image_id")
        cur = _coarsen_level(cur.join(F.broadcast(live), "image_id", "left_semi"))
        levels.append(cur)
    return levels
