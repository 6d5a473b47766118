"""Deterministic synthetic data: interleaved text+media documents + tile payloads.

Per ``BASELINE.json.input_hint`` the engine's source of truth is a table of
interleaved text + media documents::

    documents(doc_id: string,
              spans: array<struct<kind:string, text:string, media_ref:string, offset:int>>)

Media spans reference raster tiles in a companion payload table (FIXTURES.md §1).
Pixel patterns come from the reference's test fixtures so expected values are
closed-form: the gradient ``value = 1 + ((row*10 + col) % 200)``
(``/root/reference/tests/conftest.py:74-81``), the source image a Kronecker
2× upsample of it (``conftest.py:83-89``), scaled by a known true gain/offset
so that model fits have known answers.

Everything is seeded — no wall-clock, no external data.
"""

from __future__ import annotations

import zlib
from dataclasses import dataclass
from typing import List, Optional, Tuple

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T

from homonim_spark import grid
from homonim_spark.tiles import encode_tile, map_tile_batches

DOCUMENTS_SCHEMA = T.StructType([
    T.StructField("doc_id", T.StringType(), False),
    T.StructField("spans", T.ArrayType(T.StructType([
        T.StructField("kind", T.StringType(), False),
        T.StructField("text", T.StringType(), False),
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("offset", T.IntegerType(), False),
    ])), False),
])

TILES_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("image_id", T.StringType(), False),
    T.StructField("role", T.StringType(), False),       # 'src' | 'ref'
    T.StructField("band", T.IntegerType(), False),
    T.StructField("cell_id", T.LongType(), False),
    T.StructField("row", T.IntegerType(), False),
    T.StructField("col", T.IntegerType(), False),
    T.StructField("h", T.IntegerType(), False),
    T.StructField("w", T.IntegerType(), False),
    T.StructField("transform", T.ArrayType(T.DoubleType()), False),
    T.StructField("data", T.BinaryType(), False),
])

#: grid resolution used by all synthetic fixtures
FIXTURE_RES = 10

_TEXT_WORDS = (
    "survey flight mosaic reflectance calibration kernel gain offset tile "
    "raster band landsat sentinel drone aerial footprint ortho scene"
).split()


@dataclass(frozen=True)
class RasterFixtureSpec:
    """One synthetic src/ref image pair on the canonical grid.

    ``cells`` = (rows, cols) of proc-grid (reference-resolution) cells;
    ``tile`` = ref pixels per cell per dim; ``factor`` = src pixels per ref
    pixel (the 2× of ``conftest.py:83-89``); ``true_gain``/``true_offset``
    relate ref to src: ``ref ≈ true_gain·src + true_offset`` so kernel fits
    have closed-form expectations.
    """

    pair_id: str = "pair0"
    cells: Tuple[int, int] = (4, 4)
    tile: int = 16
    factor: int = 2
    bands: int = 1
    true_gain: float = 1.0
    true_offset: float = 0.0
    origin: Tuple[int, int] = (0, 0)  # cell (row, col) of the image's UL cell
    nan_border_ref: int = 1           # conftest.py:74-81 — 1-px nodata border
    nan_border_src: int = 2           # conftest.py:83-89 — 2-px nodata border
    outlier: bool = False             # plant a -100 outlier (test_kernel_model.py:171-179)


def gradient_image(h: int, w: int, band: int = 0) -> np.ndarray:
    """Periodic extension of the conftest gradient: 1 + ((r*10 + c) % 200),
    scaled by (band+1) for multi-band fixtures (``conftest.py:351-374``)."""
    r = np.arange(h)[:, None]
    c = np.arange(w)[None, :]
    return ((band + 1) * (1.0 + ((r * 10 + c) % 200))).astype(np.float32)


def make_pair_arrays(spec: RasterFixtureSpec, band: int) -> Tuple[np.ndarray, np.ndarray]:
    """Full-image (ref_array, src_array) for one band, NaN borders applied."""
    ch, cw = spec.cells
    rh, rw = ch * spec.tile, cw * spec.tile
    ref = gradient_image(rh, rw, band)
    src = np.kron(ref, np.ones((spec.factor, spec.factor), dtype=np.float32))
    # invert the relation ref = g·src + o  →  src = (ref − o)/g
    src = ((src - spec.true_offset) / spec.true_gain).astype(np.float32)
    if spec.outlier:
        src[src.shape[0] // 2, src.shape[1] // 2] = -100.0
    b = spec.nan_border_ref
    if b:
        ref[:b] = np.nan; ref[-b:] = np.nan; ref[:, :b] = np.nan; ref[:, -b:] = np.nan
    b = spec.nan_border_src
    if b:
        src[:b] = np.nan; src[-b:] = np.nan; src[:, :b] = np.nan; src[:, -b:] = np.nan
    return ref, src


def media_ref_str(pair_id: str, role: str, band: int, row: int, col: int) -> str:
    return f"tile://{pair_id}/{role}/{band}/{row}/{col}"


def _tile_rows(spec: RasterFixtureSpec, band: int, cr: int,
               ref_img: np.ndarray, src_img: np.ndarray) -> List[dict]:
    """Tile rows of one (band, cell-row) strip: ref then src per cell, each
    payload a float32 view of its image."""
    trow0, tcol0 = spec.origin
    size = grid.cell_size(FIXTURE_RES)
    px_ref = size / spec.tile
    rows = []
    for cc in range(spec.cells[1]):
        for role, img, t, px in (("ref", ref_img, spec.tile, px_ref),
                                 ("src", src_img, spec.tile * spec.factor,
                                  px_ref / spec.factor)):
            rows.append({
                "media_ref": media_ref_str(spec.pair_id, role, band, cr, cc),
                "image_id": spec.pair_id, "role": role, "band": band,
                "cell_id": grid.cell_id(FIXTURE_RES, trow0 + cr, tcol0 + cc),
                "row": trow0 + cr, "col": tcol0 + cc, "h": t, "w": t,
                "transform": [px, 0.0, (tcol0 + cc) * size, 0.0, px, (trow0 + cr) * size],
                "data": img[cr * t : (cr + 1) * t, cc * t : (cc + 1) * t],
            })
    return rows


def _document(pair_id: str, band: int, cr: int, n_cols: int,
              rng: np.random.Generator) -> dict:
    """One interleaved document for a (band, cell-row) strip: text, then
    each cell's ref and src media spans with a text span after a cell at
    probability 1/2, then text."""
    spans: List[dict] = []

    def add(kind: str, text: str = "", media_ref: str = "") -> None:
        spans.append({"kind": kind, "text": text, "media_ref": media_ref,
                      "offset": len(spans)})

    def add_text() -> None:
        n = int(rng.integers(3, 9))
        add("text", " ".join(_TEXT_WORDS[int(i)]
                             for i in rng.integers(0, len(_TEXT_WORDS), n)))

    add_text()
    for cc in range(n_cols):
        for role in ("ref", "src"):
            add("media", media_ref=media_ref_str(pair_id, role, band, cr, cc))
        if rng.random() < 0.5:
            add_text()
    add_text()
    return {"doc_id": f"doc-{pair_id}-b{band}-r{cr:04d}", "spans": spans}


def build_pair_tables(spec: RasterFixtureSpec) -> Tuple[pd.DataFrame, pd.DataFrame]:
    """(documents_pdf, tiles_pdf) for one image pair.

    Documents interleave text and media spans (pattern text, media, media,
    text, … from a seeded RNG — FIXTURES.md §1); one document per
    (band, cell-row) holding that row's src and ref tiles as media spans.
    """
    rng = np.random.default_rng([42, zlib.crc32(spec.pair_id.encode())])
    tile_rows: List[dict] = []
    doc_rows: List[dict] = []
    for band in range(spec.bands):
        ref_img, src_img = make_pair_arrays(spec, band)
        for cr in range(spec.cells[0]):
            tile_rows += [{**r, "data": encode_tile(r["data"])}
                          for r in _tile_rows(spec, band, cr, ref_img, src_img)]
            doc_rows.append(_document(spec.pair_id, band, cr, spec.cells[1], rng))
    return pd.DataFrame(doc_rows), pd.DataFrame(tile_rows)


def build_fixture_tables(
    specs: List[RasterFixtureSpec],
) -> Tuple[pd.DataFrame, pd.DataFrame]:
    docs, tiles = [], []
    for spec in specs:
        d, t = build_pair_tables(spec)
        docs.append(d)
        tiles.append(t)
    return pd.concat(docs, ignore_index=True), pd.concat(tiles, ignore_index=True)


def to_spark(
    spark: SparkSession, docs_pdf: pd.DataFrame, tiles_pdf: pd.DataFrame,
) -> Tuple[DataFrame, DataFrame]:
    return (spark.createDataFrame(docs_pdf, schema=DOCUMENTS_SCHEMA),
            spark.createDataFrame(tiles_pdf, schema=TILES_SCHEMA))


def default_specs(scale: int = 1) -> List[RasterFixtureSpec]:
    """A deterministic family of one-band, 16-px-tile image pairs; ``scale``
    multiplies the cell count (used by bench.py to grow input size without
    changing semantics)."""
    specs = []
    for i in range(max(1, scale)):
        specs.append(RasterFixtureSpec(
            pair_id=f"pair{i}",
            cells=(4, 4),
            true_gain=1.0 + 0.25 * (i % 4),
            true_offset=float(2 * (i % 3)),
            origin=(8 * (i // 16), 8 * (i % 16)),
        ))
    return specs


# --- distributed generation (bench scale — no driver bottleneck) -----------

def distributed_fixture(
    spark: SparkSession,
    n_pairs: int,
    tile: int = 16,
    partitions: Optional[int] = None,
) -> Tuple[DataFrame, DataFrame]:
    """Generate the documents + tiles tables **in executors** — one task
    per (pair, cell-row) work unit of a 4×4-cell, one-band, factor-2 pair,
    everything derived closed-form from the unit index (deterministic under
    any partitioning).

    Tiles and documents come from the same row builders as
    ``build_pair_tables``; document text/interleaving uses a per-unit
    seeded RNG (so the distributed corpus is deterministic but not
    byte-identical to ``build_pair_tables`` — use that one for golden
    tests, this one for scale benchmarks).
    """
    n_units = n_pairs * 4
    parts = partitions or max(32, n_units // 8)
    units = spark.range(0, n_units, 1, parts)

    arrays = {}

    def gen_tiles(uid):
        pi, cr = divmod(uid, 4)
        spec = RasterFixtureSpec(
            pair_id=f"pair{pi}", tile=tile,
            true_gain=1.0 + 0.25 * (pi % 4),
            true_offset=float(2 * (pi % 3)),
            origin=(8 * (pi // 4096), 8 * (pi % 4096)),
        )
        # consecutive unit ids are the cell rows of one pair: build that
        # pair's images once, not once per cell row
        if pi not in arrays:
            arrays.clear()
            arrays[pi] = make_pair_arrays(spec, 0)
        return [tuple(r.values()) for r in _tile_rows(spec, 0, cr, *arrays[pi])]

    def gen_docs(uid):
        pi, cr = divmod(uid, 4)
        doc = _document(f"pair{pi}", 0, cr, 4, np.random.default_rng([42, pi, 0, cr]))
        yield doc["doc_id"], doc["spans"]

    return (map_tile_batches(units, gen_docs, DOCUMENTS_SCHEMA),
            map_tile_batches(units, gen_tiles, TILES_SCHEMA))


# --- block-norm oracle fixture ----------------------------------------------

#: per-cell (src_low, true_gain, true_offset) for the gain-blk-offset oracle
#: fixture; the two-value gap d is 2 throughout.  Values chosen so every
#: float32 intermediate of the block-norm fit is EXACT (see
#: ``build_blknorm_tables``).
BLKNORM_CELL_PARAMS = ((4.0, 2.0, 3.0), (6.0, 0.5, -1.0),
                       (8.0, 1.5, 0.5), (10.0, 2.5, 2.0))


def build_blknorm_tables() -> Tuple[pd.DataFrame, pd.DataFrame]:
    """2×2-cell src/ref pair designed so the gain-blk-offset fit
    (``kernel/models.py:fit_gain_blk_offset``, reference
    ``/root/reference/homonim/kernel_model.py:216-229,276-303``) is EXACT in
    float32 and therefore reproducible bit-for-bit by a float64 DuckDB
    rebuild:

    - Each cell's valid pixels are a two-value checkerboard ``{a, a+2}``
      with equal counts (interior 10×10 → 50/50), so ``np.std`` is exactly
      ``d/2 = 1`` (mean ``a+1`` is representable → correctly-rounded
      division returns it exactly; deviations are ±1) and the 1st
      percentile is exactly the low value (index 0.99 interpolates between
      two copies of ``a``).
    - ``ref = G·src + C`` pointwise with small dyadic ``G``/``C``, so the
      normalised source equals the reference bit-for-bit and the sliding
      gain fit is exactly 1.0 → folded params are exactly ``(G, C)``.
    - Each 16×16 tile carries a 3-px NaN ring ≥ the 5×5 kernel halo
      (ceil(5/2)=3), so with ``chunk=1`` every chunk's valid data is its own
      cell's pattern only — per-chunk block-norm scoping is pinned (mixing
      chunks would change the std ratio).
    """
    pair_id, cells, tile, border = "blk", 2, 16, 3
    tile_rows: List[dict] = []
    doc_rows: List[dict] = []
    px_sz = grid.cell_size(FIXTURE_RES) / tile
    y, x = np.mgrid[0:tile, 0:tile]
    interior_mask = ((y >= border) & (y <= tile - border - 1)
                     & (x >= border) & (x <= tile - border - 1))
    checker = ((y + x) % 2).astype(np.float32)

    for cr in range(cells):
        spans: List[dict] = []
        offset = 0
        for cc in range(cells):
            a, g, c = BLKNORM_CELL_PARAMS[2 * cr + cc]
            src = np.where(interior_mask, np.float32(a) + 2.0 * checker,
                           np.nan).astype(np.float32)
            ref = (np.float32(g) * src + np.float32(c)).astype(np.float32)
            cid = grid.cell_id(FIXTURE_RES, cr, cc)
            for role, arr in (("ref", ref), ("src", src)):
                mref = media_ref_str(pair_id, role, 0, cr, cc)
                tile_rows.append({
                    "media_ref": mref, "image_id": pair_id, "role": role,
                    "band": 0, "cell_id": cid, "row": cr, "col": cc,
                    "h": tile, "w": tile,
                    "transform": [px_sz, 0.0, cc * grid.cell_size(FIXTURE_RES),
                                  0.0, px_sz, cr * grid.cell_size(FIXTURE_RES)],
                    "data": encode_tile(arr),
                })
                spans.append({"kind": "media", "text": "", "media_ref": mref,
                              "offset": offset})
                offset += 1
        doc_rows.append({"doc_id": f"doc-{pair_id}-r{cr:04d}", "spans": spans})
    return pd.DataFrame(doc_rows), pd.DataFrame(tile_rows)


# --- spatial fixtures (FIXTURES.md §3) -------------------------------------

def build_footprints(n: int = 8) -> pd.DataFrame:
    """Deterministic irregular flight-footprint polygons: seeded vertex
    jitter around rectangles in ``FIXTURE_RES`` cell-grid coordinates."""
    rng = np.random.default_rng(42)
    s = grid.cell_size(FIXTURE_RES)
    rows = []
    for i in range(n):
        # ranges chosen to overlap the default_specs fixture cells
        # (rows 0..8, cols 0..16·8)
        r0 = float(rng.integers(0, 4)) * s
        c0 = float(rng.integers(0, 12)) * s
        hh = float(rng.integers(2, 5)) * s
        ww = float(rng.integers(2, 6)) * s
        base = [(c0, r0), (c0 + ww, r0), (c0 + ww, r0 + hh), (c0, r0 + hh)]
        ring = []
        for (x, y) in base:
            ring.append({"x": x + float(rng.uniform(-0.3, 0.3)) * s,
                         "y": y + float(rng.uniform(-0.3, 0.3)) * s})
        rows.append({"footprint_id": f"fp-{i:03d}", "polygon": ring})
    return pd.DataFrame(rows)
