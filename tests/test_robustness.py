"""Robustness: uint8 round-trip, pair isolation, degenerate inputs,
randomized property checks (hypothesis)."""

import numpy as np
import pandas as pd
import pytest
from hypothesis import given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from homonim_spark import datagen
from homonim_spark.kernel import ops
from homonim_spark.operators import fuse as fuse_ops
from homonim_spark.operators.sink import convert_tiles
from homonim_spark.tiles import decode_tile
from tests.conftest import naive_box_sum


def test_byte_image_roundtrip(spark):
    """FIXTURES §2 byte_img: uint8 content ingested as float32 (the
    reference coerces all dtypes on read, raster_array.py:48-49), corrected,
    written back as uint8 with nodata — values round/clip correctly."""
    spec = datagen.RasterFixtureSpec(pair_id="byte", cells=(2, 2), tile=16,
                                     factor=2, true_gain=1.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse_ops.fuse(docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5))
    out = convert_tiles(fused, dtype="uint8", nodata=255).toPandas()
    for r in out.itertuples(index=False):
        arr = np.frombuffer(r.data, dtype=np.uint8).reshape(r.h, r.w)
        # gradient values are 1..200 → corrected ≈ same range; nodata=255 at borders
        valid = arr != 255
        if valid.any():
            assert arr[valid].min() >= 0 and arr[valid].max() <= 210


def test_two_pairs_same_cells_stay_isolated(spark):
    """Two image pairs occupying the SAME cell range (different image_id)
    must not cross-contaminate — the group key includes image_id."""
    s1 = datagen.RasterFixtureSpec(pair_id="pA", cells=(2, 2), tile=16, factor=2,
                                   true_gain=1.0, origin=(0, 0))
    s2 = datagen.RasterFixtureSpec(pair_id="pB", cells=(2, 2), tile=16, factor=2,
                                   true_gain=4.0, origin=(0, 0))
    docs_pdf, tiles_pdf = datagen.build_fixture_tables([s1, s2])
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    fused = fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(3, 3)).toPandas()
    assert len(fused) == 8
    for r in fused.itertuples(index=False):
        g = decode_tile(r.gain, 16, 16)
        want = 1.0 if r.image_id == "pA" else 4.0
        assert abs(np.nanmean(g) - want) < 1e-2


def test_fuse_empty_documents(spark):
    """No media spans referenced → empty output, no crash."""
    docs = spark.createDataFrame(
        pd.DataFrame([{"doc_id": "d", "spans": [
            {"kind": "text", "text": "hello", "media_ref": "", "offset": 0}]}]),
        schema=datagen.DOCUMENTS_SCHEMA)
    _, tiles_pdf = datagen.build_pair_tables(datagen.RasterFixtureSpec(cells=(2, 2)))
    _, tiles = datagen.to_spark(spark, pd.DataFrame([{"doc_id": "x", "spans": []}]), tiles_pdf)
    out = fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(1, 1))
    assert out.count() == 0


def test_docs_referencing_missing_tiles(spark):
    """Spans referencing payloads absent from the tile table: the semi-join
    silently scopes to what exists (the ingest-audit catches the rest)."""
    spec = datagen.RasterFixtureSpec(pair_id="miss", cells=(2, 2), tile=16, factor=2)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    half = tiles_pdf.iloc[: len(tiles_pdf) // 2]
    docs, tiles = datagen.to_spark(spark, docs_pdf, half)
    out = fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(1, 1))
    assert 0 <= out.count() <= 4


def test_kernel_halo_exceeding_tile_rejected(spark):
    """A kernel whose ceil(k/2) halo exceeds the tile size would silently
    lose neighbor data (only the 1-ring is exchanged) — must be rejected
    (the reference's block>overlap assertion, raster_pair.py:364-365)."""
    from homonim_spark.enums import ConfigError
    spec = datagen.RasterFixtureSpec(pair_id="hk", cells=(2, 2), tile=8, factor=1)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    with pytest.raises(ConfigError, match="halo"):
        fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(31, 31))
    # k=15 → halo 8 == tile 8: allowed (boundary)
    assert fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(15, 15)).count() == 4


def test_param_interp_kernel_context_validated():
    """cubic needs 2 px and lanczos-3 needs 3 px of exact param context past
    a chunk's interior: the chunk halo supplies it at every kernel size
    (k//2 + context, never less than ceil(k/2)), so no kernel/interp pairing
    is rejected; unknown interpolators still are."""
    from homonim_spark.enums import ConfigError
    from homonim_spark.kernel.models import KernelModelParams, chunk_halo
    for k, interp, halo in (((1, 1), "lanczos", (3, 3)), ((3, 3), "cubic", (3, 3)),
                            ((5, 3), "lanczos", (5, 4)), ((1, 1), "bilinear", (1, 1)),
                            ((5, 5), "nearest", (3, 3)), ((7, 7), "bilinear", (4, 4))):
        assert chunk_halo(KernelModelParams(kernel_shape=k, param_interp=interp)) == halo
    with pytest.raises(ConfigError, match="param_interp"):
        KernelModelParams(kernel_shape=(5, 5), param_interp="area")


def test_driver_heap_sized_from_host(monkeypatch):
    """The default driver heap is min(16g, half of physical RAM); a
    requested heap beyond physical RAM fails loudly before a JVM starts."""
    from homonim_spark import session
    from homonim_spark.enums import ConfigError
    monkeypatch.setattr(session, "_ram_bytes", lambda: 8 * 2**30)
    monkeypatch.delenv("SPARK_GRAFT_DRIVER_MEM", raising=False)
    assert session._driver_memory() == "4096m"
    monkeypatch.setattr(session, "_ram_bytes", lambda: 64 * 2**30)
    assert session._driver_memory() == "16384m"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "48g")
    assert session._driver_memory() == "48g"
    monkeypatch.setenv("SPARK_GRAFT_DRIVER_MEM", "65g")
    with pytest.raises(ConfigError, match="exceeds"):
        session._driver_memory()


# --- randomized property checks ---------------------------------------------

@settings(max_examples=15, deadline=None)
@given(
    h=st.integers(4, 24), w=st.integers(4, 24),
    kh=st.sampled_from([1, 3, 5, 7]), kw=st.sampled_from([1, 3, 5, 7]),
    seed=st.integers(0, 2**16),
)
def test_box_sum_property(h, w, kh, kw, seed):
    arr = np.random.default_rng(seed).uniform(-100, 100, (h, w)).astype(np.float32)
    got = ops.box_sum(arr, (kh, kw))
    want = naive_box_sum(arr.astype(np.float64), (kh, kw))
    np.testing.assert_allclose(got, want, rtol=1e-4, atol=1e-3)


@settings(max_examples=15, deadline=None)
@given(f=st.sampled_from([2, 3, 4]), seed=st.integers(0, 2**16))
def test_downsample_upsample_property(f, seed):
    rng = np.random.default_rng(seed)
    base = rng.uniform(0, 50, (6, 6)).astype(np.float32)
    up = ops.upsample_nearest(base, (f, f))
    down = ops.downsample_average(up, (f, f))
    np.testing.assert_allclose(down, base, rtol=1e-5)


def test_build_pair_tables_same_text_in_every_process():
    """The document text RNG must not depend on Python's per-process str
    hash salt: two interpreters with different PYTHONHASHSEED build
    identical documents."""
    import os
    import subprocess
    import sys
    from pathlib import Path

    code = ("import sys; from homonim_spark import datagen; "
            "d, _ = datagen.build_pair_tables(datagen.RasterFixtureSpec()); "
            "sys.stdout.write(d.to_json())")
    root = Path(__file__).resolve().parents[1]
    outs = [subprocess.run([sys.executable, "-c", code], cwd=root, check=True,
                           capture_output=True, text=True,
                           env={**os.environ, "PYTHONHASHSEED": seed}).stdout
            for seed in ("1", "2")]
    assert outs[0] and outs[0] == outs[1]
