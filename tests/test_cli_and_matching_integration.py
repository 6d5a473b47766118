"""CLI end-to-end, band-map integration, compare proc-space symmetry."""

import json
import subprocess
import sys
from pathlib import Path

import numpy as np
import pandas as pd
import pytest

from homonim_spark import datagen
from homonim_spark.operators import fuse as fuse_ops
from homonim_spark.operators.compare import compare
from homonim_spark.operators.matching import match_bands
from homonim_spark.tiles import decode_tile

ROOT = Path(__file__).resolve().parents[1]


def test_band_map_fuse(spark):
    """Fuse with a wavelength band map: ref bands stored in reverse order
    get re-keyed onto the matched src band before pairing."""
    spec = datagen.RasterFixtureSpec(pair_id="bm", cells=(2, 2), tile=16,
                                     factor=1, bands=3, nan_border_src=1)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    # permute ref bands: stored band b holds content of band (2-b)
    t = tiles_pdf.copy()
    is_ref = t.role == "ref"
    t.loc[is_ref, "band"] = 2 - t.loc[is_ref, "band"]
    docs, tiles = datagen.to_spark(spark, docs_pdf, t)

    src_meta = pd.DataFrame({"band": [0, 1, 2], "center_wavelength": [0.65, 0.56, 0.48]})
    ref_meta = pd.DataFrame({"band": [0, 1, 2], "center_wavelength": [0.48, 0.56, 0.65]})
    bm = match_bands(src_meta, ref_meta)
    assert dict(bm.set_index("src_band")["ref_band"]) == {0: 2, 1: 1, 2: 0}

    fused = fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(5, 5),
                          r2_inpaint_thresh=None, band_map=bm).toPandas()
    assert len(fused) == 12  # 3 bands x 4 cells
    for r in fused.itertuples(index=False):
        g = decode_tile(r.gain, 16, 16)
        # matched pairing restores the identity relation per band: gain ~ 1
        assert abs(np.nanmean(g) - 1.0) < 1e-2


def test_compare_proc_space_symmetry(spark):
    """proc_crs=ref vs proc_crs=src agree on perfectly-related pairs
    (reference tests/test_compare.py:130-148, rel 1e-3)."""
    spec = datagen.RasterFixtureSpec(pair_id="sym", cells=(2, 2), tile=16,
                                     factor=2, true_gain=2.0, true_offset=10.0)
    _, tiles_pdf = datagen.build_pair_tables(spec)
    _, tiles = datagen.to_spark(spark, pd.DataFrame([{"doc_id": "x", "spans": []}]), tiles_pdf)
    a = compare(tiles, proc_crs="ref").toPandas().iloc[0]
    b = compare(tiles, proc_crs="src").toPandas().iloc[0]
    # ref-space is exact on the aligned fixture (block-mean inverts kron);
    # src-space compares blocky src against bilinear-interpolated ref, so
    # correlation dips slightly — both must stay near-perfect (the
    # reference's rel 1e-3 applies to mutually-resampled imagery, which the
    # closed-form kron fixture is not)
    assert a["r2"] == pytest.approx(1.0, abs=1e-6)
    assert b["r2"] > 0.95
    assert a["rrmse"] == pytest.approx(b["rrmse"], rel=0.5)
    assert b["n"] > a["n"]  # src grid has factor^2 more pixels


def test_compare_src_coarser_mirrors_src_finer(spark):
    """Either image may be the finer: compare on a pair whose source is the
    coarse image equals compare on the unswapped pair with the other proc
    grid (same two grids, same resampling), on r2, rmse and n.  rrmse is
    relative to the reference mean, so it differs by design."""
    spec = datagen.RasterFixtureSpec(pair_id="sw0", cells=(3, 4), tile=16,
                                     factor=2, true_gain=2.0, true_offset=10.0)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    swapped_pdf = tiles_pdf.copy()
    swapped_pdf["role"] = swapped_pdf["role"].map({"ref": "src", "src": "ref"})
    _, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    _, swapped = datagen.to_spark(spark, docs_pdf, swapped_pdf)
    for proc, other, want in (("ref", "src", (0.966072, 59.422341, 10980)),
                              ("src", "ref", (1.0, 59.918187, 2852))):
        a = compare(swapped, proc_crs=proc).toPandas().iloc[0]
        b = compare(tiles, proc_crs=other).toPandas().iloc[0]
        assert a["n"] == b["n"] == want[2]
        for i, col in enumerate(("r2", "rmse")):
            assert a[col] == pytest.approx(b[col], rel=1e-9)
            assert a[col] == pytest.approx(want[i], rel=1e-6)
    # auto takes each pair's lower-resolution grid: src for the swapped pair
    for pair, grid_ in ((swapped, "src"), (tiles, "ref")):
        auto = compare(pair, proc_crs="auto").toPandas()
        pd.testing.assert_frame_equal(auto, compare(pair, proc_crs=grid_).toPandas())


def test_cli_fuse_compare_stats(spark, tmp_path):
    """Drive the CLI end-to-end in a subprocess: fuse → stats → compare."""
    import pyarrow  # noqa: F401  (ensure env)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(
        datagen.RasterFixtureSpec(pair_id="cli", cells=(2, 2), tile=16, factor=2))
    ddir, tdir = str(tmp_path / "docs.parquet"), str(tmp_path / "tiles.parquet")
    # write parquet via pandas/pyarrow (no spark needed to stage inputs)
    docs_pdf.to_parquet(ddir)
    tiles_pdf.to_parquet(tdir)
    out = str(tmp_path / "out")

    tif_dir = str(tmp_path / "tifs")
    r = subprocess.run(
        [sys.executable, "-m", "homonim_spark.cli", "fuse", "--documents", ddir,
         "--tiles", tdir, "--out", out, "--model", "gain-blk-offset",
         "--kernel", "5", "5", "--master", "local[2]",
         "--export-gtiff", tif_dir, "--export-epsg", "32734"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    last = json.loads(r.stdout.strip().splitlines()[-1])
    assert last["corrected_tiles"] == 4
    manifest = json.load(open(f"{out}/MANIFEST.json"))
    assert manifest["FUSE_MODEL"] == "gain-blk-offset"
    assert manifest["FUSE_KERNEL_SHAPE"] == [5, 5]
    # --export-gtiff wrote ONE decodable corrected GTiff for the image
    import glob
    from homonim_spark.tiffio import read_gtiff
    tifs = glob.glob(f"{tif_dir}/*_FUSE.tif")
    assert len(tifs) == 1, tifs
    g = read_gtiff(tifs[0])
    assert g.crs == "EPSG:32734" and g.data.shape == (1, 64, 64)

    r2 = subprocess.run(
        [sys.executable, "-m", "homonim_spark.cli", "stats", "--params",
         f"{out}/params", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert r2.returncode == 0, r2.stderr[-2000:]
    stats = json.loads(r2.stdout.strip().splitlines()[-1])
    by_param = {s["param"]: s for s in stats}
    assert by_param["gain"]["mean"] == pytest.approx(1.0, abs=1e-2)

    r3 = subprocess.run(
        [sys.executable, "-m", "homonim_spark.cli", "compare", "--documents", ddir,
         "--tiles", tdir, "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert r3.returncode == 0, r3.stderr[-2000:]
    cmp_stats = json.loads(r3.stdout.strip().splitlines()[-1])
    assert any(abs(s["r2"] - 1.0) < 1e-6 for s in cmp_stats)

    # --proc-crs reaches compare: the src grid has factor² more pixels
    r4 = subprocess.run(
        [sys.executable, "-m", "homonim_spark.cli", "compare", "--documents", ddir,
         "--tiles", tdir, "--proc-crs", "src", "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert r4.returncode == 0, r4.stderr[-2000:]
    src_stats = json.loads(r4.stdout.strip().splitlines()[-1])
    _, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    want = compare(tiles, proc_crs="src").toPandas().iloc[0]
    # one band: its row and the Mean row carry the same n
    n_src = {s["n"] for s in src_stats}
    assert n_src == {want["n"]} and n_src != {s["n"] for s in cmp_stats}


def test_cli_yaml_conf_and_table_report(tmp_path):
    """--conf yaml fills parameters not given on the command line (reference
    FuseCommand semantics, cli.py:88-117) and --report table emits the
    reference-style text table."""
    docs_pdf, tiles_pdf = datagen.build_pair_tables(
        datagen.RasterFixtureSpec(pair_id="cf", cells=(2, 2), tile=16, factor=2))
    ddir, tdir = str(tmp_path / "docs.parquet"), str(tmp_path / "tiles.parquet")
    docs_pdf.to_parquet(ddir)
    tiles_pdf.to_parquet(tdir)
    out = str(tmp_path / "out")
    conf = tmp_path / "fuse.yaml"
    conf.write_text("model: gain\nkernel: [3, 3]\nfind_r2: true\n")

    # --model on the CLI wins over the config; kernel/find_r2 come from yaml
    r = subprocess.run(
        [sys.executable, "-m", "homonim_spark.cli", "fuse", "--documents", ddir,
         "--tiles", tdir, "--out", out, "--model", "gain-offset",
         "--conf", str(conf), "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert r.returncode == 0, r.stderr[-2000:]
    manifest = json.load(open(f"{out}/MANIFEST.json"))
    assert manifest["FUSE_MODEL"] == "gain-offset"   # CLI wins
    assert manifest["FUSE_KERNEL_SHAPE"] == [3, 3]   # yaml fills default

    # unknown config key → nonzero exit with the reference's message shape
    bad = tmp_path / "bad.yaml"
    bad.write_text("no_such_param: 1\n")
    rbad = subprocess.run(
        [sys.executable, "-m", "homonim_spark.cli", "fuse", "--documents", ddir,
         "--tiles", tdir, "--out", out, "--conf", str(bad), "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert rbad.returncode != 0
    assert "no_such_param" in (rbad.stderr + rbad.stdout)

    # text table report
    r2 = subprocess.run(
        [sys.executable, "-m", "homonim_spark.cli", "stats", "--params",
         f"{out}/params", "--model", "gain-offset", "--report", "table",
         "--master", "local[2]"],
        capture_output=True, text=True, timeout=300, cwd=ROOT)
    assert r2.returncode == 0, r2.stderr[-2000:]
    body = r2.stdout
    lines = [l for l in body.splitlines() if l.strip()]
    hdr = next(i for i, l in enumerate(lines) if l.split()[:2] == ["image_id", "band"])
    assert set(lines[hdr + 1]) <= {"-", " "}  # dashed rule under the header
    assert any("gain" in l for l in lines[hdr + 2:])
