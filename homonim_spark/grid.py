"""Deterministic H3-style planar cell index.

The engine tiles rasters onto a hierarchical square grid over a planar CRS
(the synthetic fixtures use a planar CRS like the reference's EPSG:3857 test
fixtures, ``/root/reference/tests/conftest.py:96-98``).  The interface mirrors
what H3/S2 provide — ``cell_id``, ``k_ring``, ``parent``/``children``,
``polyfill`` — but is a local, dependency-free implementation (SURVEY.md §7.6):
a square grid halves its cell size every resolution step.

Layout of the 64-bit cell id (always positive, fits Spark ``LongType``)::

    [ res : 5 bits ][ row + 2^28 : 29 bits ][ col + 2^28 : 29 bits ]

Everything is expressible both as numpy-vectorized Python (inside the tile
UDFs) and as JVM-side Spark SQL expressions (for joins / halo explode — no
Python in the shuffle-key hot path).
"""

from __future__ import annotations

from typing import List, Sequence, Tuple

import numpy as np
from pyspark.sql import Column
from pyspark.sql import functions as F

RES_BITS = 5
COORD_BITS = 29
COORD_BIAS = 1 << 28
MAX_RES = (1 << RES_BITS) - 1

#: Cell edge length at resolution 0, in CRS units (meters for the synthetic
#: planar CRS). Each resolution step halves the edge (H3-style aperture-4).
BASE_CELL_SIZE = float(1 << 20)


def cell_size(res: int) -> float:
    """Cell edge length at ``res`` in CRS units."""
    return BASE_CELL_SIZE / (1 << res)


# ---------------------------------------------------------------------------
# numpy / scalar side
# ---------------------------------------------------------------------------

def cell_id(res, row, col):
    """Pack (res, row, col) into a 64-bit cell id. Vectorized over numpy."""
    res_a = np.asarray(res, dtype=np.int64)
    row_a = np.asarray(row, dtype=np.int64)
    col_a = np.asarray(col, dtype=np.int64)
    out = (res_a << (2 * COORD_BITS)) | ((row_a + COORD_BIAS) << COORD_BITS) | (col_a + COORD_BIAS)
    if np.isscalar(res) and np.isscalar(row) and np.isscalar(col):
        return int(out)
    return out


def cell_res(cid):
    return np.asarray(cid, dtype=np.int64) >> (2 * COORD_BITS) if not np.isscalar(cid) else int(cid) >> (2 * COORD_BITS)


def cell_row(cid):
    v = (np.asarray(cid, dtype=np.int64) >> COORD_BITS) & ((1 << COORD_BITS) - 1)
    v = v - COORD_BIAS
    return int(v) if np.isscalar(cid) else v


def cell_col(cid):
    v = np.asarray(cid, dtype=np.int64) & ((1 << COORD_BITS) - 1)
    v = v - COORD_BIAS
    return int(v) if np.isscalar(cid) else v


def k_ring(cid: int, k: int) -> List[int]:
    """All cells within Chebyshev distance ``k`` (the square analogue of
    H3's kRing), including the center. Deterministic row-major order."""
    r, c = cell_row(cid), cell_col(cid)
    res = cell_res(cid)
    return [
        cell_id(res, r + dr, c + dc)
        for dr in range(-k, k + 1)
        for dc in range(-k, k + 1)
    ]


def parent(cid: int) -> int:
    """Parent cell one resolution coarser (aperture-4: floor-div 2)."""
    res = cell_res(cid)
    if res == 0:
        raise ValueError("parent below resolution 0")
    # floor-division must round toward -inf for negative indices
    return cell_id(res - 1, cell_row(cid) >> 1, cell_col(cid) >> 1)


def children(cid: int) -> List[int]:
    """The four child cells one resolution finer."""
    res, r, c = cell_res(cid), cell_row(cid), cell_col(cid)
    return [
        cell_id(res + 1, 2 * r + dr, 2 * c + dc) for dr in (0, 1) for dc in (0, 1)
    ]


# ---------------------------------------------------------------------------
# polygon cover (H3 polyfill analogue) — numpy winding-number test
# ---------------------------------------------------------------------------

def points_in_polygon(xs: np.ndarray, ys: np.ndarray, ring: Sequence[Tuple[float, float]]) -> np.ndarray:
    """Vectorized even-odd (crossing-number) point-in-polygon test.

    ``ring`` is a closed or open sequence of (x, y) vertices.  Points exactly
    on an edge follow the half-open crossing rule (deterministic).
    """
    xs = np.asarray(xs, dtype=np.float64)
    ys = np.asarray(ys, dtype=np.float64)
    pts = np.asarray(ring, dtype=np.float64)
    if np.array_equal(pts[0], pts[-1]):
        pts = pts[:-1]
    x0, y0 = pts[:, 0], pts[:, 1]
    x1, y1 = np.roll(x0, -1), np.roll(y0, -1)
    inside = np.zeros(xs.shape, dtype=bool)
    for i in range(len(pts)):
        crosses = (y0[i] > ys) != (y1[i] > ys)
        with np.errstate(divide="ignore", invalid="ignore"):
            xint = (x1[i] - x0[i]) * (ys - y0[i]) / (y1[i] - y0[i]) + x0[i]
        inside ^= crosses & (xs < xint)
    return inside


def polyfill(ring: Sequence[Tuple[float, float]], res: int) -> List[int]:
    """All cells at ``res`` whose *center* lies inside the polygon ring —
    the same center-containment convention H3's polyfill uses."""
    pts = np.asarray(ring, dtype=np.float64)
    s = cell_size(res)
    col_lo = int(np.floor(pts[:, 0].min() / s))
    col_hi = int(np.floor(pts[:, 0].max() / s))
    row_lo = int(np.floor(pts[:, 1].min() / s))
    row_hi = int(np.floor(pts[:, 1].max() / s))
    rows, cols = np.meshgrid(
        np.arange(row_lo, row_hi + 1), np.arange(col_lo, col_hi + 1), indexing="ij"
    )
    rows = rows.ravel()
    cols = cols.ravel()
    cx = (cols + 0.5) * s
    cy = (rows + 0.5) * s
    inside = points_in_polygon(cx, cy, ring)
    return [int(v) for v in cell_id(res, rows[inside], cols[inside])]


# ---------------------------------------------------------------------------
# Spark side: SQL text over column names (JVM arithmetic, codegen)
# ---------------------------------------------------------------------------
#
# The bit layout is written once, as SQL text.  Text composes into larger
# expressions (``operators.fuse.route_tiles`` parses its whole routing in
# two ``selectExpr`` calls), and parsing it is one driver round trip where
# the equivalent ``Column`` arithmetic costs about ten per operator.

_COORD_MASK = (1 << COORD_BITS) - 1


def cell_id_sql(res: str, row: str, col: str) -> str:
    """SQL text of the cell id of the ``res``/``row``/``col`` expressions."""
    return (f"(shiftleft(CAST({res} AS BIGINT), {2 * COORD_BITS})"
            f" | shiftleft(CAST({row} AS BIGINT) + {COORD_BIAS}, {COORD_BITS})"
            f" | (CAST({col} AS BIGINT) + {COORD_BIAS}))")


def cell_row_sql(cid: str) -> str:
    return f"((shiftrightunsigned({cid}, {COORD_BITS}) & {_COORD_MASK}) - {COORD_BIAS})"


def cell_col_sql(cid: str) -> str:
    return f"(({cid} & {_COORD_MASK}) - {COORD_BIAS})"


def cell_res_sql(cid: str) -> str:
    return f"shiftrightunsigned({cid}, {2 * COORD_BITS})"


# Column forms of the text above: one parsed ``F.expr`` each, over a
# cell-id column name or SQL text.

def cell_row_expr(cid: str) -> Column:
    return F.expr(cell_row_sql(cid))


def cell_col_expr(cid: str) -> Column:
    return F.expr(cell_col_sql(cid))


def cell_res_expr(cid: str) -> Column:
    return F.expr(cell_res_sql(cid))


def k_ring_expr(cid: str, k: int) -> Column:
    """Array column of the (2k+1)² k-ring cell ids, row-major like
    :func:`k_ring` (JVM-side)."""
    res, row, col = cell_res_sql(cid), cell_row_sql(cid), cell_col_sql(cid)
    return F.expr("array(" + ", ".join(
        cell_id_sql(res, f"{row} + {dr}", f"{col} + {dc}")
        for dr in range(-k, k + 1) for dc in range(-k, k + 1)) + ")")


def parent_expr(cid: str) -> Column:
    """Parent cell id one resolution coarser (floor-div 2 via an arithmetic
    shift, toward -inf like :func:`parent`)."""
    return F.expr(cell_id_sql(f"{cell_res_sql(cid)} - 1",
                              f"shiftright({cell_row_sql(cid)}, 1)",
                              f"shiftright({cell_col_sql(cid)}, 1)"))
