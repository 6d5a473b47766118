"""Python stages at Arrow batch boundaries.

``tiles.map_tile_groups`` streams sorted rows through ``mapInArrow`` and
must hand its function every complete group, also a group that spans
record batches.  Each grouped site runs with
``spark.sql.execution.arrow.maxRecordsPerBatch=3`` and with the session
default (512), and must give byte-identical payloads and GeoTIFF pixels.
The batch-matrix similarity stages and the per-row text and polygon
stages must give identical rows at both batch sizes too."""

from contextlib import contextmanager

import numpy as np
import pytest
from pyspark.sql import functions as F
from pyspark.sql import types as T

from homonim_spark import datagen
from homonim_spark.operators.fuse import fuse
from homonim_spark.operators import dedup, similarity
from homonim_spark.operators.ingest import regrid_tiles
from homonim_spark.operators.sink import build_overviews, convert_tiles, export_corrected_gtiff
from homonim_spark.operators.spatial import polyfill_footprints
from homonim_spark.tiffio import read_gtiff
from homonim_spark.tiles import map_tile_groups

BATCH = "spark.sql.execution.arrow.maxRecordsPerBatch"


@contextmanager
def _batch_rows(spark, n):
    old = spark.conf.get(BATCH, None)
    spark.conf.set(BATCH, str(n))
    try:
        yield
    finally:
        if old is None:
            spark.conf.unset(BATCH)
        else:
            spark.conf.set(BATCH, old)


def _rows(df):
    return sorted(df.collect(), key=repr)


def test_map_tile_groups_sees_whole_groups_across_batches(spark):
    """Groups of 1..9 rows in one partition, read 3 rows per batch: every
    group arrives whole, once, with its rows' payloads intact."""
    rows = [(g, i, np.full(i + 1, g, dtype="<f4").tobytes())
            for g in range(1, 10) for i in range(g)]
    df = spark.createDataFrame(rows, "g int, i int, data binary").coalesce(1)
    schema = T.StructType([T.StructField("g", T.IntegerType()),
                           T.StructField("n", T.IntegerType()),
                           T.StructField("data", T.BinaryType())])

    def fn(g, group):
        yield g, len(group), np.concatenate([d.view("<f4") for _, d in sorted(group)])

    with _batch_rows(spark, 3):
        got = _rows(map_tile_groups(df, ["g"], fn, schema))
    assert [(r["g"], r["n"]) for r in got] == [(g, g) for g in range(1, 10)]
    for r in got:
        want = np.concatenate([np.full(i + 1, r["g"], dtype="<f4") for i in range(r["g"])])
        assert bytes(r["data"]) == want.tobytes()


@pytest.fixture(scope="module")
def tables(spark):
    specs = [datagen.RasterFixtureSpec(pair_id="b0", cells=(2, 4), true_gain=2.0,
                                       true_offset=10.0),
             datagen.RasterFixtureSpec(pair_id="b1", cells=(4, 4), true_gain=1.25,
                                       true_offset=2.0, origin=(8, 8))]
    return datagen.to_spark(spark, *datagen.build_fixture_tables(specs))


def _grouped_sites(docs, tiles, out_dir):
    fused = fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5))
    # a shifted, rescaled copy overlaps every tile, so fragments average
    moved = tiles.withColumn("transform", F.expr(
        "array(transform[0] * 0.9, transform[1], transform[2] + 7.0, "
        "transform[3], transform[4] * 0.9, transform[5] + 11.0)"))
    regrid_in = tiles.unionByName(moved).filter("image_id = 'b0'") \
        .select("image_id", "role", "band", "transform", "h", "w", "data")
    corrected = convert_tiles(fused)
    level = build_overviews(corrected.select("image_id", "band", "cell_id", "h", "w", "data"),
                            min_px=16)[0]
    manifest = export_corrected_gtiff(fused, out_dir, dtype="uint16", nodata=0).collect()
    return {
        "fuse": _rows(fused),
        "regrid": _rows(regrid_tiles(regrid_in, datagen.FIXTURE_RES, 16)),
        "overview": _rows(level),
        "gtiff": {r["image_id"]: read_gtiff(r["path"]).data.tobytes()
                  for r in manifest},
    }


def test_grouped_sites_are_byte_identical_at_three_rows_per_batch(spark, tables, tmp_path):
    docs, tiles = tables
    default = _grouped_sites(docs, tiles, str(tmp_path / "default"))
    with _batch_rows(spark, 3):
        small = _grouped_sites(docs, tiles, str(tmp_path / "small"))
    assert spark.conf.get(BATCH) == "512"
    assert len(default["fuse"]) == 24 and len(default["overview"]) > 0
    assert sorted(default["gtiff"]) == ["b0", "b1"]
    for site in default:
        assert small[site] == default[site], site


@pytest.fixture(scope="module")
def row_inputs(spark):
    """60 embeddings (the last 30 near-copies of the first 30), documents
    sharing one long passage, and the fixture footprints; each frame has
    several rows per partition, so 3 rows per batch splits them."""
    rng = np.random.default_rng(11)
    base = rng.standard_normal((60, 8)).astype(np.float32)
    base[30:] = base[:30] + 0.05 * rng.standard_normal((30, 8)).astype(np.float32)
    vecs = spark.createDataFrame([(i, base[i].tolist()) for i in range(60)],
                                 "vec_id long, embedding array<float>").coalesce(2)
    words = "raster band landsat sentinel drone aerial footprint ortho scene tile".split()
    shared = " ".join(rng.choice(words, 120))
    texts = [" ".join(rng.choice(words, 40)) + (" " + shared if i % 2 else "")
             for i in range(12)]
    docs = spark.createDataFrame([(i, t) for i, t in enumerate(texts)] + [(12, None), (13, "")],
                                 "doc_id long, text string").coalesce(2)
    footprints = spark.createDataFrame(datagen.build_footprints(8)).coalesce(1)
    return vecs, docs, footprints


def _row_sites(vecs, docs, footprints, centroids, monkeypatch):
    queries = vecs.filter("vec_id < 6")
    sites = {
        "cosine_topk_np": _rows(similarity.cosine_topk_np(vecs, queries, k=4)),
        "ivf_topk": _rows(similarity.ivf_topk(vecs, queries, centroids, k=4, nprobe=2)),
        "neardup": _rows(similarity.embedding_near_duplicates(
            vecs, threshold=0.9, dim=8, n_planes=4)),
        "content_chunks": _rows(dedup.content_chunks(docs)),
        "polyfill": _rows(polyfill_footprints(footprints, datagen.FIXTURE_RES)),
    }
    with monkeypatch.context() as m:  # the join branch of the verification
        m.setattr(similarity, "VERIFY_BROADCAST_BYTES", 1)
        sites["neardup_join"] = _rows(similarity.embedding_near_duplicates(
            vecs, threshold=0.9, dim=8, n_planes=4))
    return sites


def test_row_and_matrix_sites_are_identical_at_three_rows_per_batch(
        spark, row_inputs, monkeypatch):
    vecs, docs, footprints = row_inputs
    centroids = similarity.train_ivf_centroids(vecs, n_centroids=4)
    default = _row_sites(vecs, docs, footprints, centroids, monkeypatch)
    with _batch_rows(spark, 3):
        small = _row_sites(vecs, docs, footprints, centroids, monkeypatch)
    assert spark.conf.get(BATCH) == "512"
    assert len(default["cosine_topk_np"]) == 24 and len(default["ivf_topk"]) == 24
    assert len(default["neardup"]) >= 25 and default["neardup_join"] == default["neardup"]
    assert {r["doc_id"] for r in default["content_chunks"]} == set(range(12))
    assert {r["footprint_id"] for r in default["polyfill"]} == {f"fp-{i:03d}" for i in range(8)}
    for site in default:
        assert small[site] == default[site], site
