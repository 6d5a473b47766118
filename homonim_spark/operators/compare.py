"""compare — distributed src↔ref similarity statistics.

Reference: ``RasterCompare.process`` (``/root/reference/homonim/compare.py:212-278``)
— threadpooled per-block sums accumulated on the driver, then PCC/RMSE/rRMSE
per band plus a cross-band ``Mean`` row (``compare.py:142-186``).

Spark-native shape: an explicit **cell-ID hash join** of source tiles to
reference tiles (the reference's implicit block pairing, J1), one
:func:`~homonim_spark.tiles.map_tile_batches` UDF producing per-tile
partial sums as plain columns, then a built-in ``groupBy(band).sum()`` —
Spark's partial+final aggregation replaces the driver-side accumulation
loop.  Sums accumulate in float64, matching the
reference's block-size invariance to rel 1e-5 (``tests/test_compare.py:108-127``).
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homonim_spark.kernel import ops
from homonim_spark.tiles import decode_tile, map_tile_batches

_SUMS_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("src_sum", T.DoubleType(), False),
    T.StructField("ref_sum", T.DoubleType(), False),
    T.StructField("src2_sum", T.DoubleType(), False),
    T.StructField("ref2_sum", T.DoubleType(), False),
    T.StructField("src_ref_sum", T.DoubleType(), False),
    T.StructField("res2_sum", T.DoubleType(), False),
    T.StructField("mask_sum", T.DoubleType(), False),
])


def tile_pair_join(tiles: DataFrame) -> DataFrame:
    """J1: equi hash join of src tiles to ref tiles on (image_id, band,
    cell_id).  At scale this is the skew-prone exchange (many drone tiles per
    reference cell); AQE skew-join splitting is on (session.py) and
    ``operators.spatial.salted_join`` provides explicit salting when one ref
    cell fans out to very many src tiles."""
    src = tiles.filter(F.col("role") == "src").select(
        "image_id", "band", "cell_id",
        F.col("h").alias("src_h"), F.col("w").alias("src_w"), F.col("data").alias("src_data"),
    )
    ref = tiles.filter(F.col("role") == "ref").select(
        "image_id", "band", "cell_id",
        F.col("h").alias("ref_h"), F.col("w").alias("ref_w"), F.col("data").alias("ref_data"),
    )
    return src.join(ref, ["image_id", "band", "cell_id"], "inner")


def block_sums(pairs: DataFrame, proc_crs: str = "ref") -> DataFrame:
    """Per-tile partial sums (``compare.py:232-256``): bring the other tile
    onto the processing grid (block-mean onto a coarser grid, bilinear onto
    a finer one — reference ``compare.py:236-242``; either image may be the
    finer), mask to the common valid set, emit the seven sums.
    ``proc_crs='auto'`` takes each pair's lower-resolution grid: ref when
    the src tile has at least as many pixels, as ``infer_fuse_config``."""

    def sums(image_id, band, src_h, src_w, src, ref_h, ref_w, ref):
        src = decode_tile(src, src_h, src_w)
        ref = decode_tile(ref, ref_h, ref_w)
        if proc_crs == "src" or (proc_crs == "auto" and src_h < ref_h):
            ref = ops.to_grid(ref, ref_h, src_h)
        else:
            src = ops.to_grid(src, src_h, ref_h)
        mask = ~np.isnan(src) & ~np.isnan(ref)
        s = np.where(mask, src, 0).astype(np.float64)
        v = np.where(mask, ref, 0).astype(np.float64)
        yield (image_id, band, s.sum(), v.sum(), (s ** 2).sum(), (v ** 2).sum(),
               (s * v).sum(), ((v - s) ** 2).sum(), float(mask.sum()))

    return map_tile_batches(pairs.select("image_id", "band", "src_h", "src_w", "src_data",
                                         "ref_h", "ref_w", "ref_data"), sums, _SUMS_SCHEMA)


def _final_stats(agg: DataFrame) -> DataFrame:
    """PCC²/RMSE/rRMSE/N from accumulated sums (``compare.py:142-163``)."""
    src_mean = F.col("src_sum") / F.col("mask_sum")
    ref_mean = F.col("ref_sum") / F.col("mask_sum")
    pcc_num = F.col("src_ref_sum") - (F.col("mask_sum") * src_mean * ref_mean)
    pcc_den = F.sqrt(F.col("src2_sum") - F.col("mask_sum") * src_mean * src_mean) * \
        F.sqrt(F.col("ref2_sum") - F.col("mask_sum") * ref_mean * ref_mean)
    rmse = F.sqrt(F.col("res2_sum") / F.col("mask_sum"))
    return agg.select(
        "image_id", "band",
        F.pow(pcc_num / pcc_den, 2).alias("r2"),
        rmse.alias("rmse"),
        (rmse / ref_mean).alias("rrmse"),
        F.col("mask_sum").cast("long").alias("n"),
    )


def compare(tiles: DataFrame, proc_crs: str = "ref") -> DataFrame:
    """Full compare: per (image_id, band) r2/rmse/rrmse/n.

    The whole reduction is built-in partial+final aggregation — no driver
    loop, no collect.
    """
    sums = block_sums(tile_pair_join(tiles), proc_crs=proc_crs)
    agg = sums.groupBy("image_id", "band").agg(
        *[F.sum(c).alias(c) for c in
          ("src_sum", "ref_sum", "src2_sum", "ref2_sum", "src_ref_sum", "res2_sum", "mask_sum")]
    )
    return _final_stats(agg)


def compare_with_mean(tiles: DataFrame, proc_crs: str = "ref") -> DataFrame:
    """compare + the reference's cross-band ``Mean`` summary row
    (``compare.py:177-186``): mean of each statistic over bands, with the
    integer field floor-divided exactly as the reference does
    (``int(v / len)``, ``compare.py:180-183``)."""
    # no .cache(): the union's two branches share the identical heavy
    # sums-aggregation exchange (AQE stage reuse), so only the tiny final
    # per-band projection evaluates twice — and nothing is left persisted
    # across invocations (a cached copy per call leaked under repeated
    # bench reps; guide §5 caching rules)
    per_band = compare(tiles, proc_crs)
    mean_row = per_band.groupBy("image_id").agg(
        F.avg("r2").alias("r2"), F.avg("rmse").alias("rmse"), F.avg("rrmse").alias("rrmse"),
        (F.sum("n") / F.count("n")).cast("long").alias("n"),
    ).select("image_id", F.lit(None).cast("int").alias("band"), "r2", "rmse", "rrmse", "n")
    return per_band.select("image_id", "band", "r2", "rmse", "rrmse", "n").unionByName(mean_row)
