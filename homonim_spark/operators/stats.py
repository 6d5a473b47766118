"""stats — parameter-image statistics + distributed data window.

Reference: ``ParamStats.stats`` (``/root/reference/homonim/stats.py:194-262``)
— threaded per-block min/max/Σ/Σ²/n (+ inpaint share for R² bands of the
gain-offset model), accumulated on the driver, finished with the cumulative
std formula (``stats.py:175-192``).  And ``_get_data_window``
(``stats.py:135-173``): the union of per-block valid-data bounding boxes.

Spark-native: per-tile partial sums from one
:func:`~homonim_spark.tiles.map_tile_batches` UDF (reading as float64,
matching ``stats.py:221``), then built-in ``groupBy(param).agg`` —
min/max/sum/count reductions; the data window is an agg of per-tile bounding
boxes offset to global pixel coordinates.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homonim_spark import grid
from homonim_spark.enums import Model
from homonim_spark.tiles import decode_tile, get_data_window, map_tile_batches

_PARTIAL_SCHEMA = T.StructType([
    T.StructField("image_id", T.StringType(), False),
    T.StructField("band", T.IntegerType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("param", T.StringType(), False),   # 'gain' | 'offset' | 'r2'
    T.StructField("vmin", T.DoubleType(), True),
    T.StructField("vmax", T.DoubleType(), True),
    T.StructField("vsum", T.DoubleType(), False),
    T.StructField("vsum2", T.DoubleType(), False),
    T.StructField("n", T.LongType(), False),
    T.StructField("inpaint_n", T.LongType(), True),
    # per-tile valid-data bbox in global proc-grid pixel coords
    T.StructField("row0", T.LongType(), True),
    T.StructField("col0", T.LongType(), True),
    T.StructField("row1", T.LongType(), True),
    T.StructField("col1", T.LongType(), True),
])


def param_partials(
    fused: DataFrame, model: Model | str = Model.gain_blk_offset,
) -> DataFrame:
    """Per-tile partial stats for each parameter plane of the fused output.

    ``inpaint_n`` counts r2 < 0.25 only for the gain-offset model's R²
    plane, mirroring the band test at ``stats.py:226-228``.
    """
    is_gain_offset = Model(model) == Model.gain_offset

    def partials(image_id, band, cell_id, h, w, *planes):
        trow, tcol = grid.cell_row(cell_id), grid.cell_col(cell_id)
        for pname, data in zip(("gain", "offset", "r2"), planes):
            if data is None:
                continue
            # read as float64 like the reference (stats.py:221)
            arr = decode_tile(data, h, w).astype(np.float64)
            mask = ~np.isnan(arr)
            n = int(mask.sum())
            vals = arr[mask]
            win = get_data_window(mask)
            yield (image_id, band, cell_id, pname,
                   float(vals.min()) if n else None, float(vals.max()) if n else None,
                   float(vals.sum()), float((vals ** 2).sum()), n,
                   int((vals < 0.25).sum()) if (is_gain_offset and pname == "r2") else None,
                   *((trow * h + win[0], tcol * w + win[1], trow * h + win[2], tcol * w + win[3])
                     if win else (None,) * 4))

    return map_tile_batches(
        fused.select("image_id", "band", "cell_id", "h", "w", "gain", "offset", "r2"),
        partials, _PARTIAL_SCHEMA)


def param_stats(
    fused: DataFrame, model: Model | str = Model.gain_blk_offset,
) -> DataFrame:
    """Final per-(band, param) stats: mean, cumulative-formula std
    (``sqrt(Σx²/n − (Σx/n)²)``, ``stats.py:184``), min, max, inpaint_p."""
    p = param_partials(fused, model)
    agg = p.groupBy("image_id", "band", "param").agg(
        F.min("vmin").alias("vmin"), F.max("vmax").alias("vmax"),
        F.sum("vsum").alias("vsum"), F.sum("vsum2").alias("vsum2"),
        F.sum("n").alias("n"), F.sum("inpaint_n").alias("inpaint_n"),
    )
    mean = F.col("vsum") / F.col("n")
    std = F.sqrt((F.col("vsum2") / F.col("n")) - F.pow(F.col("vsum") / F.col("n"), 2))
    return agg.select(
        "image_id", "band", "param",
        mean.alias("mean"), std.alias("std"),
        F.col("vmin").alias("min"), F.col("vmax").alias("max"),
        (F.lit(100.0) * F.col("inpaint_n") / F.col("n")).alias("inpaint_p"),
        "n",
    )


def vectorize_params(fused: DataFrame) -> DataFrame:
    """Raster→vector bridge (north_star): per-cell vector features from the
    parameter rasters — cell polygon bounds in world coordinates plus the
    per-tile parameter summaries (mean/std gain, offset, r2, valid share).

    Output is an ordinary relational layer: joinable against footprints
    (J6), filterable by quality (``r2_mean``), exportable to any vector
    sink. One narrow pass (the tile→summary UDF) + no shuffle.
    """
    p = param_partials(fused)
    wide = (
        p.groupBy("image_id", "band", "cell_id")
        .pivot("param", ["gain", "offset", "r2"])
        .agg(
            F.first(F.col("vsum") / F.col("n")).alias("mean"),
            F.first(F.sqrt(F.col("vsum2") / F.col("n")
                           - F.pow(F.col("vsum") / F.col("n"), 2))).alias("std"),
            F.first("n").alias("n"),
        )
    )
    row, col = grid.cell_row_expr("cell_id"), grid.cell_col_expr("cell_id")
    res_expr = grid.cell_res_expr("cell_id")
    size = F.lit(float(grid.BASE_CELL_SIZE)) / F.pow(F.lit(2.0), res_expr.cast("double"))
    return wide.select(
        "image_id", "band", "cell_id",
        (col.cast("double") * size).alias("x_min"),
        (row.cast("double") * size).alias("y_min"),
        ((col + 1).cast("double") * size).alias("x_max"),
        ((row + 1).cast("double") * size).alias("y_max"),
        F.col("gain_mean"), F.col("gain_std"),
        F.col("offset_mean"), F.col("offset_std"),
        F.col("r2_mean"),
        F.col("gain_n").alias("n_valid"),
    )


def data_window(fused: DataFrame) -> DataFrame:
    """A12: distributed union of per-tile valid-data windows →
    one (row0, col0, row1, col1) bounding box per image
    (``stats.py:135-173``)."""
    p = param_partials(fused).filter(F.col("param") == "gain")
    return p.groupBy("image_id").agg(
        F.min("row0").alias("row0"), F.min("col0").alias("col0"),
        F.max("row1").alias("row1"), F.max("col1").alias("col1"),
    )
