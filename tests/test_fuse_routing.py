"""Chunk + halo routing against a pure-Python oracle, and the driver cost of
building a fuse plan.

``route_tiles`` sends every tile to its own chunk and to each border-adjacent
chunk inside its image's src-tile chunk extent.  The oracle re-derives that
from ``grid.cell_row`` / ``grid.cell_col`` with Python's floor division, so
negative rows and columns, chunk-border and corner tiles and the extent
filter are each checked against an independent formulation.
"""

from collections import Counter

import numpy as np
import pandas as pd
import pytest

from homonim_spark import datagen, grid
from homonim_spark.kernel.models import KernelModelParams
from homonim_spark.operators import fuse as fuse_ops

RES = datagen.FIXTURE_RES


def _tile_rows():
    """Tiles of three images: ``a`` straddles row/col 0 with a ref border
    reaching past its src extent, ``b`` has one src cell among ref cells and
    a second band, ``c`` has ref tiles only (no src extent, routed nowhere)."""
    rng = np.random.default_rng(5)
    rows = []

    def add(image, band, role, r, c):
        rows.append({"media_ref": f"{image}/{band}/{role}/{r}/{c}", "image_id": image,
                     "role": role, "band": band, "cell_id": grid.cell_id(RES, r, c),
                     "row": r, "col": c, "h": 1, "w": 1, "transform": [0.0] * 6,
                     "data": bytes([r & 0xFF, c & 0xFF])})

    for r in range(-9, 6):
        for c in range(-6, 8):
            if -7 <= r <= 3 and -5 <= c <= 5 and rng.random() < 0.8:
                add("a", 0, "src", r, c)
            add("a", 0, "ref", r, c)
    for r in range(20, 29):
        for c in range(-13, -4):
            add("b", 1, "ref", r, c)
            add("b", 2, "ref", r, c)
    add("b", 1, "src", 24, -8)
    add("b", 2, "src", 23, -9)
    for r in range(0, 3):
        for c in range(0, 3):
            add("c", 0, "ref", r, c)
    return rows


def _oracle(rows, K):
    """Pure-Python routing: (image_id, band, cell_id, role, chunk_id) counts."""
    ext = {}
    for t in rows:
        if t["role"] == "src":
            R, C = grid.cell_row(t["cell_id"]) // K, grid.cell_col(t["cell_id"]) // K
            lo_r, hi_r, lo_c, hi_c = ext.get((t["image_id"], t["band"]), (R, R, C, C))
            ext[(t["image_id"], t["band"])] = (min(lo_r, R), max(hi_r, R),
                                               min(lo_c, C), max(hi_c, C))
    out = Counter()
    for t in rows:
        key = (t["image_id"], t["band"])
        if key not in ext:
            continue
        lo_r, hi_r, lo_c, hi_c = ext[key]
        r, c = grid.cell_row(t["cell_id"]), grid.cell_col(t["cell_id"])
        R, C = r // K, c // K
        for dR in (-1, 0, 1):
            if (dR == -1 and r % K != 0) or (dR == 1 and r % K != K - 1):
                continue
            for dC in (-1, 0, 1):
                if (dC == -1 and c % K != 0) or (dC == 1 and c % K != K - 1):
                    continue
                if lo_r <= R + dR <= hi_r and lo_c <= C + dC <= hi_c:
                    out[key + (t["cell_id"], t["role"],
                               grid.cell_id(RES, R + dR, C + dC))] += 1
    return out


@pytest.mark.parametrize("chunk", [1, 2, 4])
def test_route_tiles_matches_python_oracle(spark, chunk):
    rows = _tile_rows()
    tiles = spark.createDataFrame(pd.DataFrame(rows), schema=datagen.TILES_SCHEMA)
    cfg = fuse_ops.FuseConfig(tile=1, factor=1, chunk=chunk)
    routed = fuse_ops.route_tiles(tiles, cfg).collect()
    got = Counter((r["image_id"], r["band"], r["cell_id"], r["role"], r["chunk_id"])
                  for r in routed)
    want = _oracle(rows, chunk)
    assert got == want
    # the cases the routing must keep are all in this input: destinations
    # at negative rows and columns, halo copies across chunk edges and
    # corners, and tiles dropped because no src tile owns their chunks
    assert any(grid.cell_row(k[4]) < 0 and grid.cell_col(k[4]) < 0 for k in want)
    own = {k: grid.cell_id(RES, grid.cell_row(k[2]) // chunk, grid.cell_col(k[2]) // chunk)
           for k in want}
    assert any(grid.cell_row(k[4]) != grid.cell_row(own[k])
               and grid.cell_col(k[4]) != grid.cell_col(own[k]) for k in want)
    routed_tiles = {k[:4] for k in got}
    dropped = {t["image_id"] for t in rows
               if (t["image_id"], t["band"], t["cell_id"], t["role"]) not in routed_tiles}
    assert dropped == {"a", "b", "c"}
    # payloads ride along untouched
    by_ref = {t["media_ref"]: t["data"] for t in rows}
    assert all(bytes(r["data"]) == by_ref[r["media_ref"]] for r in routed)


def test_fuse_plan_driver_round_trips(spark):
    """Building a fuse plan with a resolved config costs a bounded number of
    py4j commands: about 230 with the routing and span explode written as
    SQL text, against about 4,300 when they were built from Column
    operators (about ten round trips each).  The bound leaves room for the
    object-release commands py4j sends on the same connection."""
    import py4j.clientserver as cs

    docs_pdf, tiles_pdf = datagen.build_pair_tables(datagen.RasterFixtureSpec(cells=(2, 2)))
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    cfg = fuse_ops.infer_fuse_config(tiles, KernelModelParams(kernel_shape=(3, 3)))
    send = cs.ClientServerConnection.send_command
    calls = []

    def counting(self, command, *args, **kwargs):
        calls.append(command)
        return send(self, command, *args, **kwargs)

    cs.ClientServerConnection.send_command = counting
    try:
        fuse_ops.fuse(docs, tiles, cfg=cfg)
    finally:
        cs.ClientServerConnection.send_command = send
    assert len(calls) <= 500, f"{len(calls)} py4j commands to build one fuse plan"
