"""Tests for grid, point-in-polygon, kNN, band matching, salted join."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from homonim_spark import grid
from homonim_spark.enums import BandMatchError
from homonim_spark.operators.matching import greedy_match, match_bands
from homonim_spark.operators.spatial import (
    assign_tiles_to_footprints,
    knn_ref_tiles,
    polyfill_footprints,
    salted_join,
)


# --- grid -------------------------------------------------------------------

def test_cell_id_roundtrip():
    for res, r, c in [(0, 0, 0), (10, 5, -3), (15, -100, 100), (31, 2**27, -2**27)]:
        cid = grid.cell_id(res, r, c)
        assert cid > 0
        assert grid.cell_res(cid) == res
        assert grid.cell_row(cid) == r
        assert grid.cell_col(cid) == c


def test_parent_children_inverse():
    cid = grid.cell_id(10, 37, -15)
    for ch in grid.children(cid):
        assert grid.parent(ch) == cid
    assert grid.parent(grid.cell_id(10, -1, -1)) == grid.cell_id(9, -1, -1)


def test_k_ring_and_distance():
    cid = grid.cell_id(10, 0, 0)
    ring1 = grid.k_ring(cid, 1)
    assert len(ring1) == 9 and cid in ring1
    assert all(max(abs(grid.cell_row(n)), abs(grid.cell_col(n))) <= 1
               for n in ring1)


def test_spark_column_exprs_match_python(spark):
    pdf = pd.DataFrame({"res": [10, 12, 1], "row": [5, -7, -1], "col": [-3, 9, 0]})
    df = spark.createDataFrame(pdf).withColumn(
        "cid", F.expr(grid.cell_id_sql("res", "row", "col")))
    df = df.select("res", "row", "col", "cid",
                   grid.cell_res_expr("cid").alias("r_res"),
                   grid.cell_row_expr("cid").alias("r_row"),
                   grid.cell_col_expr("cid").alias("r_col"),
                   grid.k_ring_expr("cid", 1).alias("ring"),
                   grid.parent_expr("cid").alias("parent"))
    for r in df.collect():
        cid = grid.cell_id(r["res"], r["row"], r["col"])
        assert r["cid"] == cid
        assert (r["r_res"], r["r_row"], r["r_col"]) == (r["res"], r["row"], r["col"])
        assert r["ring"] == grid.k_ring(cid, 1)
        assert r["parent"] == grid.parent(cid)


def test_polyfill_rectangle():
    s = grid.cell_size(10)
    # rectangle covering cells rows 1..2, cols 1..3 exactly
    ring = [(1 * s, 1 * s), (4 * s, 1 * s), (4 * s, 3 * s), (1 * s, 3 * s)]
    cells = grid.polyfill(ring, 10)
    want = {grid.cell_id(10, r, c) for r in (1, 2) for c in (1, 2, 3)}
    assert set(cells) == want


# --- point-in-polygon (J6) ---------------------------------------------------

def test_pip_assignment_matches_numpy_oracle(spark):
    s = grid.cell_size(10)
    fps = spark.createDataFrame(pd.DataFrame([{
        "footprint_id": "fp-0",
        "polygon": [{"x": 0.2 * s, "y": 0.1 * s}, {"x": 3.7 * s, "y": 0.3 * s},
                    {"x": 3.5 * s, "y": 2.8 * s}, {"x": 0.1 * s, "y": 2.5 * s}],
    }]))
    tiles = spark.createDataFrame(pd.DataFrame({
        "cell_id": [grid.cell_id(10, r, c) for r in range(5) for c in range(5)],
    }))
    got = assign_tiles_to_footprints(tiles, fps, 10).toPandas()
    ring = [(0.2 * s, 0.1 * s), (3.7 * s, 0.3 * s), (3.5 * s, 2.8 * s), (0.1 * s, 2.5 * s)]
    cells = np.array([grid.cell_id(10, r, c) for r in range(5) for c in range(5)])
    cx = (grid.cell_col(cells) + 0.5) * s
    cy = (grid.cell_row(cells) + 0.5) * s
    want = set(cells[grid.points_in_polygon(cx, cy, ring)])
    assert set(got["cell_id"]) == {int(v) for v in want}


# --- kNN (J7) ----------------------------------------------------------------

def test_knn_ring_distances(spark):
    src = spark.createDataFrame(pd.DataFrame({
        "cell_id": [grid.cell_id(10, 0, 0), grid.cell_id(10, 5, 5)]}))
    ref = spark.createDataFrame(pd.DataFrame({
        "cell_id": [grid.cell_id(10, 0, 2), grid.cell_id(10, 1, 1),
                    grid.cell_id(10, 5, 5), grid.cell_id(10, 9, 9)]}))
    out = knn_ref_tiles(src, ref, k=2, max_ring=3).toPandas()
    g = out.set_index(["cell_id", "knn_rank"])
    c00 = grid.cell_id(10, 0, 0)
    # nearest to (0,0): (1,1) at dist 1, then (0,2) at dist 2
    assert g.loc[(c00, 1), "ref_cell_id"] == grid.cell_id(10, 1, 1)
    assert g.loc[(c00, 1), "ring_dist"] == 1
    assert g.loc[(c00, 2), "ref_cell_id"] == grid.cell_id(10, 0, 2)
    c55 = grid.cell_id(10, 5, 5)
    # same-cell match ranks first at dist 0
    assert g.loc[(c55, 1), "ref_cell_id"] == c55
    assert g.loc[(c55, 1), "ring_dist"] == 0


def test_knn_ranks_per_band_independently(spark):
    """Regression: two bands missing the SAME cell must each get their own
    k nearest donors (the rank window partitions on the full src key)."""
    src = spark.createDataFrame(pd.DataFrame({
        "image_id": ["p", "p"], "band": [0, 1],
        "cell_id": [grid.cell_id(10, 0, 0)] * 2}))
    ref = spark.createDataFrame(pd.DataFrame({
        "cell_id": [grid.cell_id(10, 0, 1), grid.cell_id(10, 2, 2)]}))
    out = knn_ref_tiles(src, ref, k=2, max_ring=3).toPandas()
    # each (band) row gets BOTH donors at ranks 1 and 2
    assert len(out) == 4
    for band in (0, 1):
        sub = out[out.band == band].sort_values("knn_rank")
        assert list(sub["knn_rank"]) == [1, 2]
        assert sub.iloc[0]["ref_cell_id"] == grid.cell_id(10, 0, 1)


# --- salted join -------------------------------------------------------------

def test_salted_join_equals_plain_join(spark):
    big = spark.createDataFrame(pd.DataFrame({
        "k": [1] * 50 + [2] * 5, "v": range(55)}))
    small = spark.createDataFrame(pd.DataFrame({"k": [1, 2, 3], "w": [10, 20, 30]}))
    got = salted_join(big, small, ["k"], n_salt=4).toPandas()
    want = big.join(small, "k").toPandas()
    key = lambda d: sorted(map(tuple, d[["k", "v", "w"]].values.tolist()))
    assert key(got) == key(want)


# --- band matching (J2-J4) ----------------------------------------------------

def test_greedy_match_matches_reference_semantics():
    # src bands at wavelengths .65/.56/.48; ref slightly offset
    dist = np.abs(np.array([[0.65], [0.56], [0.48]]) -
                  np.array([[0.66, 0.55, 0.49]]))
    rel = dist / np.array([[0.65], [0.56], [0.48]])
    md, mi = greedy_match(rel)
    assert list(mi) == [0, 1, 2]


def test_match_bands_wavelength_and_fallback():
    src = pd.DataFrame({"band": [0, 1, 2],
                        "center_wavelength": [0.65, 0.56, 0.48]})
    ref = pd.DataFrame({"band": [10, 11, 12],
                        "center_wavelength": [0.49, 0.56, 0.66]})
    m = match_bands(src, ref).set_index("src_band")["ref_band"]
    assert dict(m) == {0: 12, 1: 11, 2: 10}

    # positional fallback without wavelengths, equal counts
    src2 = pd.DataFrame({"band": [0, 1]})
    ref2 = pd.DataFrame({"band": [5, 6]})
    m2 = match_bands(src2, ref2).set_index("src_band")["ref_band"]
    assert dict(m2) == {0: 5, 1: 6}

    # more src than ref without force → error (matched_pair.py:236-240)
    with pytest.raises(BandMatchError):
        match_bands(pd.DataFrame({"band": [0, 1, 2]}), pd.DataFrame({"band": [0]}))
    # with force → first-N truncation
    m3 = match_bands(pd.DataFrame({"band": [0, 1, 2]}),
                     pd.DataFrame({"band": [7]}), force=True)
    assert dict(m3.set_index("src_band")["ref_band"]) == {0: 7}


def test_match_bands_threshold_error():
    src = pd.DataFrame({"band": [0], "center_wavelength": [0.65]})
    ref = pd.DataFrame({"band": [1], "center_wavelength": [0.90]})
    with pytest.raises(BandMatchError):
        match_bands(src, ref)


def test_rgb_imputation():
    src = pd.DataFrame({"band": [0, 1, 2],
                        "colorinterp": ["red", "green", "blue"]})
    ref = pd.DataFrame({"band": [0, 1, 2],
                        "center_wavelength": [0.48, 0.56, 0.65]})
    m = match_bands(src, ref).set_index("src_band")["ref_band"]
    assert dict(m) == {0: 2, 1: 1, 2: 0}
