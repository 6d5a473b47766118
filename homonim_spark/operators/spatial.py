"""Spatial operators: salted cell-ID joins, point-in-polygon, kNN.

These are the north_rule operators with no direct reference analogue
(SURVEY.md §2.3 J6/J7): tile↔footprint assignment for irregular flight
polygons and nearest-reference-tile resolution, built on the engine's
H3-style grid (``homonim_spark.grid``).

Scale design:
- PIP: ``polyfill`` of each polygon at the tile resolution → the covering
  cell set is a *small* table → broadcast hash join against the tile table;
  only boundary cells take the exact vectorized point-in-polygon test.
- kNN: one k-ring join instead of a crossJoin — each src cell explodes to
  its full ``max_ring`` ring once, so candidate volume is
  O(tiles · max_ring²) not O(tiles²); ranking by ``row_number`` over
  (Chebyshev ring distance, cell_id) is deterministic.
- Skew: ``salted_join`` splits hot keys N-ways (explicit salting per
  north_rule) on top of AQE's runtime skew splitting.
"""

from __future__ import annotations

from typing import List

import numpy as np
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homonim_spark import grid
from homonim_spark.tiles import map_tile_batches


# ---------------------------------------------------------------------------
# salted hash join (J1 at scale)
# ---------------------------------------------------------------------------

def salted_join(
    big: DataFrame,
    small: DataFrame,
    on: List[str],
    n_salt: int = 8,
) -> DataFrame:
    """Inner equi-join with explicit key salting for skewed fan-out.

    The drone-mosaic case: very many source tiles land in one reference
    cell, so the hash partition for that cell hot-spots.  The big side gets
    ``salt = pmod(hash(cols), n_salt)``; the small side is exploded
    ``n_salt``× — each hot key's rows are then spread over ``n_salt``
    reducers.  (AQE skew-join splitting is also enabled in session.py; this
    operator is the deterministic, planner-independent variant the
    north_rule asks to handle explicitly.)
    """
    # deterministic salt: hash of the row's full content (identical rows
    # share a salt — acceptable; runs are reproducible, unlike
    # monotonically_increasing_id which depends on partition layout)
    big_s = big.withColumn(
        "_salt", F.pmod(F.hash(*[F.col(c) for c in big.columns]), F.lit(n_salt)))
    small_s = small.withColumn("_salt", F.explode(F.sequence(F.lit(0), F.lit(n_salt - 1))))
    out = big_s.join(small_s, on + ["_salt"], "inner")
    return out.drop("_salt")


def skew_report(df: DataFrame, keys: List[str]) -> DataFrame:
    """Key-distribution diagnostics for a prospective join/groupBy: per-key
    row counts reduced to (n_keys, total_rows, max_rows, avg_rows,
    skew_ratio). The north_rule requires skew handled *explicitly* — this is
    the measurement that sizes :func:`salted_join`'s ``n_salt`` (measure,
    don't guess)."""
    counts = df.groupBy(*keys).agg(F.count("*").alias("n"))
    return counts.agg(
        F.count("*").alias("n_keys"),
        F.sum("n").alias("total_rows"),
        F.max("n").alias("max_rows"),
        F.round(F.avg("n"), 6).alias("avg_rows"),
        F.round(F.max("n") / F.avg("n"), 6).alias("skew_ratio"),
    )


# ---------------------------------------------------------------------------
# point-in-polygon tile↔footprint assignment (J6)
# ---------------------------------------------------------------------------

_PIP_SCHEMA = T.StructType([
    T.StructField("footprint_id", T.StringType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("boundary", T.BooleanType(), False),
])


def polyfill_footprints(footprints: DataFrame, res: int) -> DataFrame:
    """footprints(footprint_id, polygon:array<struct<x,y>>) → one row per
    covering cell at ``res``, flagged ``boundary`` when the cell rectangle
    crosses the polygon edge (center-in but not all-corners-in, or
    vice-versa).  Runs as a ``tiles.map_tile_batches`` row function per
    polygon — polygons are metadata-scale; cells are the big side."""

    s = grid.cell_size(res)

    def fill(footprint_id, polygon):
        ring = [(p["x"], p["y"]) for p in polygon]
        cells = grid.polyfill(ring, res)
        if not cells:
            return ()
        cells_a = np.array(cells, dtype=np.int64)
        cr = grid.cell_row(cells_a).astype(np.float64)
        cc = grid.cell_col(cells_a).astype(np.float64)
        # a cell is interior iff all 4 corners are inside
        corners_in = np.ones(len(cells), dtype=bool)
        for dy in (0.0, 1.0):
            for dx in (0.0, 1.0):
                corners_in &= grid.points_in_polygon((cc + dx) * s, (cr + dy) * s, ring)
        return [(footprint_id, int(cid), not bool(interior))
                for cid, interior in zip(cells, corners_in)]

    return map_tile_batches(footprints.select("footprint_id", "polygon"), fill, _PIP_SCHEMA)


def assign_tiles_to_footprints(
    tiles: DataFrame, footprints: DataFrame, res: int
) -> DataFrame:
    """J6: assign tiles to flight-footprint polygons.

    Coarse pass: broadcast join of tile ``cell_id`` against the polyfilled
    covering-cell set (center-containment).  The ``boundary`` flag marks
    cells where exact geometry was consulted; with center-containment
    semantics the polyfill *is* exact for tile-center assignment, so no
    per-tile refinement join is needed — the flag is retained for callers
    that want edge-cell special-casing.
    """
    cover = polyfill_footprints(footprints, res)
    return tiles.join(F.broadcast(cover), "cell_id", "inner")


# ---------------------------------------------------------------------------
# kNN: nearest reference tiles for source tiles lacking a same-cell match (J7)
# ---------------------------------------------------------------------------

def knn_ref_tiles(
    src_cells: DataFrame,
    ref_cells: DataFrame,
    k: int = 1,
    max_ring: int = 4,
) -> DataFrame:
    """For each source cell, the ``k`` nearest reference cells by Chebyshev
    ring distance (ties broken by ref cell_id — deterministic).

    ``src_cells``: DataFrame with ``cell_id`` (plus any carry-through cols);
    ``ref_cells``: DataFrame with ``cell_id``.

    Implementation: explode each src cell to its ``max_ring``-ring (JVM-side
    array of (2r+1)² neighbor ids — no Python), hash join to ref cells,
    ``row_number`` over (ring_dist, ref_cell_id).  Cells whose k-th neighbor
    is farther than ``max_ring`` are dropped (callers widen ``max_ring`` —
    doubling it quadruples candidate volume, so widen geometrically).
    """
    part_cols = list(src_cells.columns)  # rank within EACH src row's full
    # key — two bands/images sharing a cell_id must rank independently
    src = src_cells.withColumns({"_srow": grid.cell_row_expr("cell_id"),
                                 "_scol": grid.cell_col_expr("cell_id")})
    cand = src.withColumn(
        "_nbr", F.explode(grid.k_ring_expr("cell_id", max_ring))
    )
    ref = ref_cells.select(F.col("cell_id").alias("_nbr")).distinct()
    joined = cand.join(ref, "_nbr", "inner")
    row_r, col_r = grid.cell_row_expr("_nbr"), grid.cell_col_expr("_nbr")
    joined = joined.withColumn(
        "ring_dist",
        F.greatest(F.abs(row_r - F.col("_srow")), F.abs(col_r - F.col("_scol"))),
    )
    w = Window.partitionBy(*part_cols).orderBy("ring_dist", "_nbr")
    out = (
        joined.withColumn("knn_rank", F.row_number().over(w))
        .filter(F.col("knn_rank") <= k)
        .withColumnRenamed("_nbr", "ref_cell_id")
        .drop("_srow", "_scol")
    )
    return out
