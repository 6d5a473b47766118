"""Ingest-time grid normalisation (S5/R3).

The reference wraps CRS-mismatched / non-aligned datasets in a
``WarpedVRT`` so everything downstream sees one canonical north-up grid
(``/root/reference/homonim/utils.py:182-225``,
``raster_pair.py:280-292``).  The engine's equivalent is a one-off Spark
job: tiles with *arbitrary* affine transforms are resampled onto the
canonical cell grid (``homonim_spark.grid``) before entering the fuse
pipeline — after this job every tile satisfies the aligned-grid contract
(cell-sized, north-up, integer-factor resolutions).

Per tile: compute the canonical cells its footprint covers, bilinear-sample
the canonical pixel centers from the tile (NaN outside / at nodata), emit
per-cell fragments (:func:`~homonim_spark.tiles.map_tile_batches`); a
per-cell mosaic (:func:`~homonim_spark.tiles.map_tile_groups`) merges
fragments (valid pixels win; overlaps average).  One shuffle.
"""

from __future__ import annotations

from functools import reduce
from typing import Iterator

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homonim_spark import grid
from homonim_spark.crs import transform_points
from homonim_spark.kernel.ops import KERNELS
from homonim_spark.tiles import decode_tile, map_tile_batches, map_tile_groups

_FRAG_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("role", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("sum", T.BinaryType(), False),   # float32 value sums
    T.StructField("cnt", T.BinaryType(), False),   # float32 valid counts
])


def bilinear_sample(arr: np.ndarray, ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """Sample ``arr`` at fractional pixel coords (ys, xs) bilinearly;
    NaN outside the array or where any contributing pixel is NaN (strict
    mask propagation, like rasterio's bilinear with nodata)."""
    h, w = arr.shape
    out = np.full(ys.shape, np.nan, dtype=np.float32)
    valid = (ys >= 0) & (ys <= h - 1) & (xs >= 0) & (xs <= w - 1)
    if not valid.any():
        return out
    y = ys[valid]
    x = xs[valid]
    y0 = np.clip(np.floor(y).astype(int), 0, h - 1)
    x0 = np.clip(np.floor(x).astype(int), 0, w - 1)
    y1 = np.clip(y0 + 1, 0, h - 1)
    x1 = np.clip(x0 + 1, 0, w - 1)
    wy = (y - y0).astype(np.float32)
    wx = (x - x0).astype(np.float32)
    a = arr[y0, x0]; b = arr[y0, x1]; c = arr[y1, x0]; d = arr[y1, x1]
    vals = (a * (1 - wy) * (1 - wx) + b * (1 - wy) * wx
            + c * wy * (1 - wx) + d * wy * wx)
    out[valid] = vals
    return out


def kernel_sample(arr: np.ndarray, ys: np.ndarray, xs: np.ndarray,
                  kind: str) -> np.ndarray:
    """Sample ``arr`` at fractional pixel coords with a separable kernel
    (Catmull-Rom 4×4 or Lanczos-3 6×6) using NORMALIZED CONVOLUTION over
    valid taps — GDAL's warp-with-nodata semantics (invalid/out-of-range
    taps are excluded and the kernel renormalized), which is what the
    reference gets from ``Resampling.lanczos``/``cubic`` on masked rasters
    (``raster_array.py:526-578``).  Targets outside the source extent, or
    with no valid tap, are NaN.  All-tap-valid interior points reduce to
    the textbook separable interpolation exactly (den = Σw = 1)."""
    r, wfun = KERNELS[kind]
    offs = np.arange(1 - r, r + 1)
    h, w = arr.shape
    out = np.full(ys.shape, np.nan, dtype=np.float32)
    inb = (ys >= 0) & (ys <= h - 1) & (xs >= 0) & (xs <= w - 1)
    if not inb.any():
        return out
    y = ys[inb].astype(np.float64)
    x = xs[inb].astype(np.float64)
    y0 = np.floor(y).astype(np.int64)
    x0 = np.floor(x).astype(np.int64)
    wy = wfun((y - y0)[:, None] - offs[None, :])     # (n, k)
    wx = wfun((x - x0)[:, None] - offs[None, :])
    num = np.zeros(len(y), dtype=np.float64)
    den = np.zeros(len(y), dtype=np.float64)
    for i, dy in enumerate(offs):
        yy = y0 + dy
        y_ok = (yy >= 0) & (yy < h)
        yc = np.clip(yy, 0, h - 1)
        for j, dx in enumerate(offs):
            xx = x0 + dx
            ok = y_ok & (xx >= 0) & (xx < w)
            v = arr[yc, np.clip(xx, 0, w - 1)]
            ok &= ~np.isnan(v)
            wgt = np.where(ok, wy[:, i] * wx[:, j], 0.0)
            num += wgt * np.where(ok, v, 0.0)
            den += wgt
    with np.errstate(invalid="ignore"):
        vals = np.where(np.abs(den) > 1e-9, num / den, np.nan)
    out[inb] = vals.astype(np.float32)
    return out


def nearest_sample(arr: np.ndarray, ys: np.ndarray, xs: np.ndarray) -> np.ndarray:
    """Nearest-neighbor sample at fractional pixel coords; NaN outside."""
    h, w = arr.shape
    out = np.full(ys.shape, np.nan, dtype=np.float32)
    inb = (ys >= 0) & (ys <= h - 1) & (xs >= 0) & (xs <= w - 1)
    if not inb.any():
        return out
    yi = np.clip(np.rint(ys[inb]).astype(np.int64), 0, h - 1)
    xi = np.clip(np.rint(xs[inb]).astype(np.int64), 0, w - 1)
    out[inb] = arr[yi, xi]
    return out


_SAMPLERS = {
    "nearest": nearest_sample,
    "bilinear": bilinear_sample,
    "cubic": lambda a, y, x: kernel_sample(a, y, x, "cubic"),
    "lanczos": lambda a, y, x: kernel_sample(a, y, x, "lanczos"),
}


def regrid_tiles(tiles: DataFrame, res: int, tile_px: int,
                 grid_crs: str | None = None,
                 resampling: str = "bilinear") -> DataFrame:
    """Normalise arbitrary-transform tiles onto the canonical grid at
    resolution ``res`` with ``tile_px`` pixels per cell per dim.

    Input rows need (image_id, role, band, transform[6], h, w, data) where
    ``transform`` = (a, b, c, d, e, f): world x = a·col + b·row + c,
    world y = d·col + e·row + f (pixel-corner origin convention).

    Cross-CRS (R1/R3, the reference's ``WarpedVRT`` path,
    ``utils.py:190-209``): with ``grid_crs`` set and a per-tile ``crs``
    string column present, tiles whose CRS differs from the grid's are
    warped through the closed-form transforms in ``homonim_spark.crs``
    (WGS84 / Web-Mercator / UTM): canonical pixel centers are transformed
    into the tile's CRS before the inverse-affine bilinear sample.

    Output: canonical tiles (one per covered cell) with the standard
    engine schema subset; fragments from overlapping inputs are averaged.

    ``resampling``: ``'bilinear'`` (default — strict mask propagation,
    the oracle-pinned contract), ``'nearest'``, ``'cubic'`` (Catmull-Rom
    4×4), or ``'lanczos'`` (Lanczos-3 6×6) — the latter two use GDAL-style
    normalized convolution over valid taps, matching the reference's
    ``Resampling.lanczos`` reproject default (``raster_array.py:526-578``).
    """
    if resampling not in _SAMPLERS:
        raise ValueError(
            f"resampling must be one of {sorted(_SAMPLERS)}, got "
            f"{resampling!r}")
    sampler = _SAMPLERS[resampling]
    cell_sz = grid.cell_size(res)
    px_out = cell_sz / tile_px
    has_crs = grid_crs is not None and "crs" in tiles.columns

    def fragments(image_id, role, band, transform, h, w, data, tile_crs):
        arr = decode_tile(data, h, w)
        a, b, c, d, e, f_ = transform
        # NULL crs (e.g. a GTiff with no GeoKey directory) → assume
        # grid CRS, the documented legacy contract
        warp = tile_crs is not None and tile_crs != grid_crs
        # covered cell range from the tile boundary (corners alone
        # underestimate under a curved warp — sample the perimeter)
        t = np.linspace(0.0, 1.0, 9)
        cols = np.concatenate([t * w, t * w, np.zeros_like(t), np.full_like(t, w)])
        rows = np.concatenate([np.zeros_like(t), np.full_like(t, h), t * h, t * h])
        xs = a * cols + b * rows + c
        ys = d * cols + e * rows + f_
        if warp:
            xs, ys = transform_points(tile_crs, grid_crs, xs, ys)
        c0 = int(np.floor(xs.min() / cell_sz))
        c1 = int(np.floor((xs.max() - 1e-9) / cell_sz))
        r0 = int(np.floor(ys.min() / cell_sz))
        r1 = int(np.floor((ys.max() - 1e-9) / cell_sz))
        # inverse affine (a,b;d,e)
        det = a * e - b * d
        ia, ib, id_, ie = e / det, -b / det, -d / det, a / det
        # canonical pixel centers vectorized by CELL-ROW STRIPE:
        # one transform_points call and one sampler pass per stripe
        # (the per-cell-loop form made tile_px² warp calls per cell;
        # the full-canvas form bounded scratch by the tile's
        # bounding BOX, which under a curved warp or diagonal tile
        # can be many times the tile area — stripes cap scratch at
        # O(n_cols·tile_px²) while per-element arithmetic is
        # unchanged, so payloads stay bit-identical)
        crs_c = np.arange(c0, c1 + 1)
        gx = (crs_c[:, None] * cell_sz
              + (np.arange(tile_px)[None, :] + 0.5) * px_out).ravel()
        for cr in range(r0, r1 + 1):
            gy = cr * cell_sz + (np.arange(tile_px) + 0.5) * px_out
            WX, WY = np.meshgrid(gx, gy)
            if warp:
                fx, fy = transform_points(grid_crs, tile_crs, WX.ravel(), WY.ravel())
                WX = fx.reshape(WX.shape)
                WY = fy.reshape(WY.shape)
            # world → source pixel coords (center convention:
            # pixel (i,j) center at col=j+0.5, row=i+0.5)
            px_c = ia * (WX - c) + ib * (WY - f_) - 0.5
            py_c = id_ * (WX - c) + ie * (WY - f_) - 0.5
            vals_row = sampler(arr, py_c, px_c)
            for i_c, cc in enumerate(crs_c):
                vals = vals_row[:, i_c * tile_px:(i_c + 1) * tile_px]
                valid = ~np.isnan(vals)
                if valid.any():
                    yield (image_id, role, band, grid.cell_id(res, int(cr), int(cc)),
                           tile_px, tile_px, np.where(valid, vals, np.float32(0)),
                           valid.astype(np.float32))

    crs = "crs" if has_crs else F.lit(None).cast("string")
    frags = map_tile_batches(
        tiles.select("image_id", "role", "band", "transform", "h", "w", "data", crs),
        fragments, _FRAG_SCHEMA)

    out_schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("image_id", T.StringType(), False),
        T.StructField("role", T.StringType(), False),
        T.StructField("band", T.IntegerType(), False),
        T.StructField("cell_id", T.LongType(), False),
        T.StructField("row", T.IntegerType(), False),
        T.StructField("col", T.IntegerType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("transform", T.ArrayType(T.DoubleType()), False),
        T.StructField("data", T.BinaryType(), False),
    ])

    def mosaic(image_id, role, band, cell_id, rows):
        # valid pixels win; overlapping fragments average (float64 sums)
        acc_sum = reduce(np.add, (decode_tile(v, h, w).astype(np.float64) for h, w, v, _ in rows))
        acc_cnt = reduce(np.add, (decode_tile(n, h, w).astype(np.float64) for h, w, _, n in rows))
        with np.errstate(invalid="ignore"):
            vals = np.where(acc_cnt > 0, acc_sum / acc_cnt, np.nan).astype(np.float32)
        cr, cc = grid.cell_row(cell_id), grid.cell_col(cell_id)
        yield (f"tile://{image_id}/{role}/{band}/{cr}/{cc}", image_id, role, band, cell_id,
               cr, cc, tile_px, tile_px,
               [px_out, 0.0, cc * cell_sz, 0.0, px_out, cr * cell_sz], vals)

    return map_tile_groups(frags, ("image_id", "role", "band", "cell_id"), mosaic, out_schema)


# ---------------------------------------------------------------------------
# executor-side real-file ingestion (S1/S3 at scale)
# ---------------------------------------------------------------------------

_BAND_ROW_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("role", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("transform", T.ArrayType(T.DoubleType()), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("crs", T.StringType(), True),
    T.StructField("data", T.BinaryType(), False),
])


_WINDOW_SCHEMA = T.StructType([T.StructField("path", T.StringType()),
                              T.StructField("y0", T.IntegerType()),
                              T.StructField("y1", T.IntegerType())])


def _emit_band_rows(src, path: str, meta, y0: int, y1: int,
               role: str, nodata: float | None) -> Iterator[tuple]:
    """Decode rows [y0, y1) of ``src`` (a path, URL or raw file bytes with
    IFD ``meta``) into one ``_BAND_ROW_SCHEMA`` row per band: nodata →
    NaN, transform = the window-local affine."""
    from homonim_spark.tiffio import decode_window
    if meta.transform is None:
        raise ValueError(f"{path}: no geo transform tags")
    raw = decode_window(src, meta, y0, y1)
    arr = raw.astype(np.float32)
    nd = nodata if nodata is not None else meta.nodata
    if nd is not None:
        arr[raw == nd] = np.nan
    a, b, c, d, e, f_ = meta.transform
    # window-local affine: same pixel scale, origin shifted to the
    # window's first row
    tr = [float(v) for v in (a, b, b * y0 + c, d, e, e * y0 + f_)]
    stem = path.rsplit("/", 1)[-1].rsplit(".", 1)[0]
    for band in range(arr.shape[0]):
        yield stem, role, band, tr, arr.shape[1], arr.shape[2], meta.crs, arr[band]


def gtiff_band_rows(binary_files: DataFrame, role: str,
                    nodata: float | None = None) -> DataFrame:
    """Decode ``binaryFile`` rows (path, content) into per-band regrid-input
    rows — IN EXECUTORS, one task per file split.  At 100 TB of GTiffs this
    is the scan path: no payload ever touches the driver (the reference
    decodes windows via GDAL on one node, ``raster_array.py:129-199``).

    ``image_id`` = file stem; ``nodata`` overrides the file's own tag
    (None → use the tag).  Output feeds :func:`regrid_tiles` directly.
    """

    def decode(path, content):
        from homonim_spark.tiffio import read_gtiff_meta
        src = bytes(content)
        meta = read_gtiff_meta(src)
        return _emit_band_rows(src, path, meta, 0, meta.height, role, nodata)

    return map_tile_batches(binary_files.select("path", "content"), decode, _BAND_ROW_SCHEMA)


def gtiff_window_rows(spark, paths: list, role: str,
                      window_rows: int = 512) -> DataFrame:
    """Windowed executor-side GTiff decode (S1 at scale, round-3 verdict
    #4): executors parse each file's IFD (a few KB of seeks — range GETs
    on object storage), plan block-aligned row windows with a 1-px halo,
    and each task reads + decodes ONLY its window's block byte ranges.
    One multi-GB aerial mosaic fans out to height/window_rows bounded
    tasks instead of one whole-file decode (the reference streams windows
    the same way, ``raster_array.py:129-199``).

    The 1-px halo makes the downstream bilinear regrid bit-identical to
    the whole-file path: every canonical pixel's interpolation neighbors
    exist in at least one window, and halo-overlap fragments carry
    identical values, so the mosaic average reproduces them exactly.
    The halo is exact for bilinear only.  A cubic (4×4) or Lanczos-3 (6×6)
    kernel whose sample point lies in a window but whose taps reach past it
    renormalizes over the taps the window holds, and the mosaic averages
    that value with the neighbouring window's; ``regrid_tiles`` must
    therefore resample these rows bilinearly.  Nodata comes from each
    file's own tag.
    """
    from homonim_spark.partitioning import pinned_repartition
    from homonim_spark.tiffio import read_gtiff_meta

    def plan(path):
        meta = read_gtiff_meta(path)
        step = max(meta.block_h, (window_rows // meta.block_h) * meta.block_h)
        for a in range(0, meta.height, step):
            yield path, max(0, a - 1), min(meta.height, a + step + 1)

    units = pinned_repartition(map_tile_batches(
        spark.createDataFrame([(p,) for p in paths], "path string"), plan, _WINDOW_SCHEMA),
        "path", "y0")
    metas = {}

    def decode(path, y0, y1):
        if path not in metas:
            metas[path] = read_gtiff_meta(path)
        return _emit_band_rows(path, path, metas[path], y0, y1, role, None)

    return map_tile_batches(units, decode, _BAND_ROW_SCHEMA)


def ingest_gtiff_files_windowed(
    spark, path: str, role: str, res: int, tile_px: int,
    grid_crs: str | None = None, window_rows: int = 512,
) -> DataFrame:
    """End-to-end windowed real-file ingestion: glob → IFD-planned window
    units → per-window executor decode → canonical-grid bilinear regrid.
    The large-single-file counterpart of :func:`ingest_gtiff_files` (which
    is one task per FILE and materializes whole files — fine for many small
    files, a memory spike and parallelism floor for multi-GB mosaics).
    Bilinear is the only resampling whose result does not depend on the
    window split (see :func:`gtiff_window_rows`)."""
    import glob as _glob
    if path.startswith(("http://", "https://")):
        # remote object-store / https source: no filesystem glob — the
        # windowed reader speaks HTTP range requests directly (tiffio
        # ``_HttpRangeFile``; the reference's /vsicurl/ analogue)
        paths = [path]
    else:
        paths = sorted(_glob.glob(path))
        if not paths:
            raise FileNotFoundError(f"no files match {path!r}")
    return regrid_tiles(gtiff_window_rows(spark, paths, role, window_rows),
                        res, tile_px, grid_crs=grid_crs)


def ingest_gtiff_files(spark, path: str, role: str, res: int, tile_px: int,
                       nodata: float | None = None,
                       grid_crs: str | None = None) -> DataFrame:
    """Scan a directory/glob of GTiffs with ``binaryFile``, decode per-band
    in executors, and regrid onto the canonical cell grid — the end-to-end
    real-file ingestion used in place of driver-side ``read_gtiff(path)``.

    ``grid_crs``: CRS of the canonical grid.  Each file's own CRS comes from
    its GeoKey directory (ProjectedCSType/GeographicType); files in a
    different CRS are warped through ``homonim_spark.crs`` during the regrid
    (the reference's ``WarpedVRT`` path, ``utils.py:190-209``).  ``None``
    keeps the legacy behaviour: every file is assumed to already be in the
    grid CRS.  Resampling is bilinear."""
    bf = spark.read.format("binaryFile").load(path)
    return regrid_tiles(gtiff_band_rows(bf, role, nodata), res, tile_px,
                        grid_crs=grid_crs)
