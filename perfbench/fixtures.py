"""Seeded inputs for the benchmark workloads.

The engine only ever sees what these functions generate, and the same seed
always gives the same bytes.

- :func:`raster_specs` / :func:`write_raster_fixture`: src/ref image pairs
  on the canonical grid, built on ``datagen.RasterFixtureSpec``,
  ``make_pair_arrays`` and ``media_ref_str``.  The seed sets each pair's
  gain and offset, the nodata border widths and the document text.
  (``datagen.distributed_fixture`` ignores its seed for pixel values, and
  ``datagen.build_pair_tables`` seeds its text from the per-process string
  hash, so neither repeats across processes.)
- :func:`write_relational_tables`: the star-schema, events, documents and
  embeddings tables the operator suite reads, with the column names and
  value ranges of the driver test tables.
"""

from __future__ import annotations

import os
from typing import List, Tuple

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from homonim_spark import datagen, grid
from homonim_spark.tiles import encode_tile

#: ref pixels per cell per dim; src tiles are ``TILE * FACTOR`` px
TILE = 64
FACTOR = 2
#: cells per image per dim: one 4x4-cell image is exactly one fuse chunk
CELLS = 4

_WORDS = ("survey flight mosaic reflectance calibration kernel gain offset "
          "tile raster band landsat sentinel drone aerial footprint ortho "
          "scene").split()


def raster_specs(n_pairs: int, seed: int, tile: int = TILE) -> List[datagen.RasterFixtureSpec]:
    """One spec per image pair.  Images sit 8 cells apart on a chunk-aligned
    lattice, so each image is one chunk and no halo crosses images."""
    specs = []
    for i in range(n_pairs):
        rng = np.random.default_rng([seed, i])
        specs.append(datagen.RasterFixtureSpec(
            pair_id=f"pair{i:05d}", cells=(CELLS, CELLS), tile=tile,
            factor=FACTOR, bands=1,
            true_gain=float(rng.uniform(0.5, 2.0)),
            true_offset=float(rng.uniform(-8.0, 8.0)),
            origin=(8 * (i // 64), 8 * (i % 64)),
            nan_border_ref=int(rng.integers(1, 4)),
            nan_border_src=int(rng.integers(1, 5)),
        ))
    return specs


def _pair_rows(spec: datagen.RasterFixtureSpec, seed: int, index: int):
    """(document rows, tile rows) of one pair: one document per cell row,
    text spans interleaved with that row's ref and src media spans."""
    rng = np.random.default_rng([seed, index, 1])
    ref_img, src_img = datagen.make_pair_arrays(spec, 0)
    trow0, tcol0 = spec.origin
    cell_sz = grid.cell_size(datagen.FIXTURE_RES)
    px_ref = cell_sz / spec.tile
    docs, tiles = [], []
    for cr in range(spec.cells[0]):
        spans = []

        def add_text():
            words = rng.choice(_WORDS, int(rng.integers(3, 9)))
            spans.append({"kind": "text", "text": " ".join(words),
                          "media_ref": "", "offset": len(spans)})

        add_text()
        for cc in range(spec.cells[1]):
            for role, img, t in (("ref", ref_img, spec.tile),
                                 ("src", src_img, spec.tile * spec.factor)):
                mref = datagen.media_ref_str(spec.pair_id, role, 0, cr, cc)
                px = px_ref if role == "ref" else px_ref / spec.factor
                tiles.append({
                    "media_ref": mref, "image_id": spec.pair_id, "role": role,
                    "band": 0,
                    "cell_id": grid.cell_id(datagen.FIXTURE_RES, trow0 + cr, tcol0 + cc),
                    "row": trow0 + cr, "col": tcol0 + cc, "h": t, "w": t,
                    "transform": [px, 0.0, (tcol0 + cc) * cell_sz,
                                  0.0, px, (trow0 + cr) * cell_sz],
                    "data": encode_tile(img[cr * t:(cr + 1) * t, cc * t:(cc + 1) * t]),
                })
                spans.append({"kind": "media", "text": "", "media_ref": mref,
                              "offset": len(spans)})
            if rng.random() < 0.5:
                add_text()
        add_text()
        docs.append({"doc_id": f"doc-{spec.pair_id}-b0-r{cr:04d}", "spans": spans})
    return docs, tiles


def write_raster_fixture(out_dir: str, specs, seed: int, n_files: int) -> Tuple[str, str]:
    """Write documents and tiles as parquet (``n_files`` files each, so a
    scan spreads over the cores).  Returns (documents_dir, tiles_dir)."""
    docs_dir, tiles_dir = os.path.join(out_dir, "documents"), os.path.join(out_dir, "tiles")
    os.makedirs(docs_dir)
    os.makedirs(tiles_dir)
    doc_schema = pa.schema([
        ("doc_id", pa.string()),
        ("spans", pa.list_(pa.struct([("kind", pa.string()), ("text", pa.string()),
                                      ("media_ref", pa.string()), ("offset", pa.int32())]))),
    ])
    tile_schema = pa.schema([
        ("media_ref", pa.string()), ("image_id", pa.string()), ("role", pa.string()),
        ("band", pa.int32()), ("cell_id", pa.int64()), ("row", pa.int32()),
        ("col", pa.int32()), ("h", pa.int32()), ("w", pa.int32()),
        ("transform", pa.list_(pa.float64())), ("data", pa.binary()),
    ])
    n_files = max(1, min(n_files, len(specs)))
    for part in range(n_files):
        docs, tiles = [], []
        for i in range(part, len(specs), n_files):
            d, t = _pair_rows(specs[i], seed, i)
            docs += d
            tiles += t
        pq.write_table(pa.Table.from_pylist(docs, schema=doc_schema),
                       os.path.join(docs_dir, f"part-{part:03d}.parquet"))
        pq.write_table(pa.Table.from_pylist(tiles, schema=tile_schema),
                       os.path.join(tiles_dir, f"part-{part:03d}.parquet"),
                       compression="none")
    return docs_dir, tiles_dir


# --- operator-suite tables ---------------------------------------------------

_DOC_WORDS = ("key agg row scan slow fast table value part hash merge batch "
              "spark the a line sort window data query column filter join "
              "vector group stream small big order customer of and to in is "
              "for on with").split()
_REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]


def _ts(rng, n, start: str, days: int) -> np.ndarray:
    base = np.datetime64(start, "us")
    return base + rng.integers(0, days * 86_400_000_000, n).astype("timedelta64[us]")


def _dates(rng, n, start: str, days: int) -> np.ndarray:
    """Midnight timestamps, like the driver tables' date columns."""
    return _ts(rng, n, start, days).astype("datetime64[D]").astype("datetime64[us]")


def _cents(rng, lo: float, hi: float, n: int) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def relational_tables(seed: int, sf: float) -> dict:
    """Seeded tables at scale factor ``sf`` (sf 0.1: 600k lineitem rows,
    5k documents, 2k embeddings — the sizes of the driver's sf0.1 set)."""
    rng = np.random.default_rng([seed, 7])
    n_cust, n_supp = int(150_000 * sf), max(25, int(10_000 * sf))
    n_ord, n_li = int(1_500_000 * sf), int(6_000_000 * sf)
    n_ev, n_users = int(1_000_000 * sf), max(10, int(15_000 * sf))
    n_docs, n_emb = int(50_000 * sf), int(20_000 * sf)
    t = {}
    t["region"] = pd.DataFrame({"r_regionkey": np.arange(5, dtype=np.int32),
                                "r_name": _REGIONS})
    t["nation"] = pd.DataFrame({"n_nationkey": np.arange(25, dtype=np.int32),
                                "n_name": [f"NATION_{i}" for i in range(25)],
                                "n_regionkey": (np.arange(25) % 5).astype(np.int32)})
    t["customer"] = pd.DataFrame({
        "c_custkey": np.arange(n_cust, dtype=np.int64),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": rng.integers(0, 25, n_cust).astype(np.int32),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": rng.choice(["AUTOMOBILE", "BUILDING", "FURNITURE",
                                    "HOUSEHOLD", "MACHINERY"], n_cust),
    })
    t["supplier"] = pd.DataFrame({
        "s_suppkey": np.arange(n_supp, dtype=np.int64),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": rng.integers(0, 25, n_supp).astype(np.int32),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp),
    })
    t["orders"] = pd.DataFrame({
        "o_orderkey": np.arange(n_ord, dtype=np.int64),
        "o_custkey": rng.integers(0, n_cust, n_ord).astype(np.int64),
        "o_orderstatus": rng.choice(["F", "O", "P"], n_ord),
        "o_totalprice": _cents(rng, 1000.0, 500_000.0, n_ord),
        "o_orderdate": _dates(rng, n_ord, "1995-01-01", 2400),
        "o_orderpriority": rng.choice(["1-URGENT", "2-HIGH", "3-MEDIUM",
                                       "4-NOT SPECIFIED", "5-LOW"], n_ord),
    })
    qty = rng.integers(1, 51, n_li).astype(np.float64)
    t["lineitem"] = pd.DataFrame({
        "l_orderkey": rng.integers(0, n_ord, n_li).astype(np.int64),
        "l_partkey": rng.integers(0, max(1, int(200_000 * sf)), n_li).astype(np.int64),
        "l_suppkey": rng.integers(0, n_supp, n_li).astype(np.int64),
        "l_linenumber": rng.integers(1, 8, n_li).astype(np.int32),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * rng.uniform(900.0, 2100.0, n_li), 2),
        "l_discount": rng.integers(0, 11, n_li) / 100.0,
        "l_tax": rng.integers(0, 9, n_li) / 100.0,
        "l_returnflag": rng.choice(["A", "N", "R"], n_li),
        "l_linestatus": rng.choice(["F", "O"], n_li),
        "l_shipdate": _dates(rng, n_li, "1995-01-02", 2500),
    })
    t["events"] = pd.DataFrame({
        "event_id": np.arange(n_ev, dtype=np.int64),
        "ts": np.sort(_ts(rng, n_ev, "2024-01-01", 30)),
        "user_id": rng.integers(0, n_users, n_ev).astype(np.int64),
        "event_type": rng.choice(["click", "view", "purchase", "signup", "error"], n_ev),
        "value": _cents(rng, 0.01, 490.0, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)],
    })
    texts = []
    for i in range(n_docs):
        if i > 10 and rng.random() < 0.03:
            # near-verbatim copy: same words, changed case and spacing, so
            # exact dedup (lowercase + whitespace fold) groups it
            src = texts[int(rng.integers(0, i))]
            texts.append("  " + src.upper().replace(" ", "   ") + " ")
            continue
        texts.append(" ".join(rng.choice(_DOC_WORDS, int(rng.integers(8, 100)))))
    t["documents"] = pd.DataFrame({
        "doc_id": np.arange(n_docs, dtype=np.int64),
        "text": texts,
        "lang": rng.choice(["en", "en", "en", "de", "es", "fr", "zh"], n_docs),
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": np.array([len(x) for x in texts], dtype=np.int64),
    })
    emb = rng.normal(0.0, 0.125, (n_emb, 64)).astype(np.float32)
    # a few planted near-duplicates, so the similarity joins have answers
    dup = rng.choice(np.arange(1, n_emb), max(2, n_emb // 50), replace=False)
    emb[dup] = emb[dup - 1] + rng.normal(0.0, 0.03, (len(dup), 64)).astype(np.float32)
    t["embeddings"] = pd.DataFrame({
        "vec_id": np.arange(n_emb, dtype=np.int64),
        "embedding": list(emb),
        "label": rng.integers(0, 10, n_emb).astype(np.int32),
    })
    return t


def write_relational_tables(out_dir: str, seed: int, sf: float) -> List[str]:
    """Write each table as one parquet file ``<out_dir>/<name>.parquet``
    (one row group, like the driver tables).  Returns the table names."""
    os.makedirs(out_dir)
    tables = relational_tables(seed, sf)
    for name, df in tables.items():
        table = pa.Table.from_pandas(df, preserve_index=False)
        if name == "embeddings":
            table = table.set_column(
                1, "embedding", pa.array(list(df["embedding"]), type=pa.list_(pa.float32())))
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"),
                       row_group_size=len(df))
    return list(tables)
