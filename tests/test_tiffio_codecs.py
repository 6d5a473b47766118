"""TIFF codec breadth (round-4 verdict #3 + ADVICE #1/#2).

The reference reads LZW/PackBits/short-strip GeoTIFFs via GDAL
(``/root/reference/homonim/raster_array.py:129-199``); the engine's pure
python ``tiffio`` must decode the same families through BOTH the
whole-file (``read_gtiff``) and windowed (``read_gtiff_meta`` +
``decode_window``) paths.  The writer doubles as the fixture encoder, so
every codec is round-trip-tested without GDAL.
"""

from __future__ import annotations

import io
import os
import struct
import zlib

import numpy as np
import pytest

from homonim_spark.tiffio import (
    _lzw_decode,
    _lzw_encode,
    _packbits_decode,
    _packbits_encode,
    decode_window,
    read_gtiff,
    read_gtiff_meta,
    write_gtiff,
)


# ---------------------------------------------------------------- raw codecs

def test_packbits_spec_vector():
    """TIFF 6.0 §9's worked example decodes byte-exactly."""
    packed = bytes.fromhex("FEAA0280002AFDAA038000 2A22F7AA".replace(" ", ""))
    unpacked = bytes.fromhex(
        "AAAAAA80002AAAAAAAAA80002A22AAAAAAAAAAAAAAAAAAAA")
    assert _packbits_decode(packed) == unpacked
    # and the encoder's output decodes back to the same plaintext
    assert _packbits_decode(_packbits_encode(unpacked)) == unpacked


@pytest.mark.parametrize("seed,n", [(0, 1), (1, 255), (2, 4096), (3, 300_000),
                                    (1810, 1810)])
def test_lzw_roundtrip(seed, n):
    """Round-trip across code-width bumps (511/1023/2047) and, at 300 kB,
    the 4094-entry table reset.  (1810, 1810) ends with the final data code
    landing on a width boundary, where EOI must go out at the bumped width."""
    rng = np.random.default_rng(seed)
    # mix of compressible runs and noise so the table actually grows
    noise = rng.integers(0, 256, n, dtype=np.uint8).tobytes()
    runs = (b"abc" * (n // 3 + 1))[:n]
    for data in (noise, runs, bytes(n)):
        assert _lzw_decode(_lzw_encode(data)) == data


def test_packbits_roundtrip_random():
    rng = np.random.default_rng(7)
    for n in (0, 1, 127, 128, 129, 5000):
        data = rng.integers(0, 4, n, dtype=np.uint8).tobytes()  # runs likely
        assert _packbits_decode(_packbits_encode(data)) == data


# ----------------------------------------------------- short final strip

def test_short_final_strip_whole_and_windowed(tmp_path):
    """ADVICE #1 repro: 8×5 image, RowsPerStrip=2 → final strip holds ONE
    row.  Both read paths must size the strip from its payload."""
    img = np.arange(2 * 5 * 8, dtype=np.uint16).reshape(2, 5, 8)
    path = str(tmp_path / "short_strip.tif")
    write_gtiff(path, img, compress=True, rows_per_strip=2)

    whole = read_gtiff(path)
    np.testing.assert_array_equal(whole.data, img)

    meta = read_gtiff_meta(path)
    assert meta.block_h == 2 and not meta.tiled
    # a window touching the last (short) strip — the old reshape crashed here
    win = decode_window(path, meta, 3, 5)
    np.testing.assert_array_equal(win, img[:, 3:5])
    # and the full-height window
    np.testing.assert_array_equal(decode_window(path, meta, 0, 5), img)


# ------------------------------------- separate planes + GDAL_METADATA

_GDAL_XML = (
    '<GDALMetadata>\n'
    '  <Item name="FUSE_MODEL">GAIN_BLK_OFFSET</Item>\n'
    '  <Item name="FUSE_KERNEL_SHAPE">(5, 5)</Item>\n'
    '  <Item name="DESCRIPTION" sample="0" role="description">Red</Item>\n'
    '  <Item name="DESCRIPTION" sample="1" role="description">Green</Item>\n'
    '  <Item name="DESCRIPTION" sample="2" role="description">Blue</Item>\n'
    '</GDALMetadata>')


def _planar_separate_tiff(path: str, img: np.ndarray, xml: str,
                          tile: tuple | None = None, rps: int = 1):
    """Hand-assemble a deflate TIFF with PlanarConfiguration 2 (one plane
    per band, blocks ordered plane-major) and a GDAL_METADATA (42112) XML —
    two shapes the engine's own writer never produces.  Stripped layouts
    end in a short strip when ``rps`` does not divide the height."""
    spp, h, w = img.shape
    blocks = []
    for plane in img:
        if tile:
            th, tw = tile
            for j in range(0, h, th):
                for i in range(0, w, tw):
                    pad = np.zeros((th, tw), dtype=img.dtype)
                    sub = plane[j: j + th, i: i + tw]
                    pad[: sub.shape[0], : sub.shape[1]] = sub
                    blocks.append(pad)
        else:
            blocks += [plane[j: j + rps] for j in range(0, h, rps)]
    payload = [zlib.compress(np.ascontiguousarray(b).astype("<u2").tobytes())
               for b in blocks]
    entries = [  # (tag, type, values); type 2 = ascii bytes
        (256, 4, [w]), (257, 4, [h]), (258, 3, [16] * spp), (259, 3, [8]),
        (262, 3, [1]), (277, 3, [spp]), (284, 3, [2]), (339, 3, [1] * spp),
        (42112, 2, list(xml.encode() + b"\0")),
    ]
    entries += ([(322, 4, [tile[1]]), (323, 4, [tile[0]])] if tile
                else [(278, 4, [rps])])
    n = len(entries) + 2                       # + block offsets, counts
    data_off = 8 + 2 + n * 12 + 4
    fmt = {2: "B", 3: "H", 4: "I"}
    blobs = [(tag, typ, len(vals),
              struct.pack("<" + str(len(vals)) + fmt[typ], *vals))
             for tag, typ, vals in entries]
    idx_sz = 2 * 4 * len(payload)              # offsets + counts blobs
    blocks_off = (data_off + idx_sz
                  + sum(len(b) for _, _, _, b in blobs if len(b) > 4))
    offsets = list(np.cumsum([blocks_off] + [len(p) for p in payload])[:-1])
    blobs.append((324 if tile else 273, 4, len(payload),
                  struct.pack(f"<{len(payload)}I", *offsets)))
    blobs.append((325 if tile else 279, 4, len(payload),
                  struct.pack(f"<{len(payload)}I", *map(len, payload))))
    blobs.sort(key=lambda b: b[0])
    out = bytearray(struct.pack("<2sHI", b"II", 42, 8))
    out += struct.pack("<H", n)
    extra = bytearray()
    for tag, typ, cnt, blob in blobs:
        out += struct.pack("<HHI", tag, typ, cnt)
        if len(blob) <= 4:
            out += blob.ljust(4, b"\0")
        else:
            out += struct.pack("<I", data_off + len(extra))
            extra += blob
    out += struct.pack("<I", 0)
    assert len(out) == data_off
    out += extra
    assert len(out) == blocks_off
    for p in payload:
        out += p
    with open(path, "wb") as f:
        f.write(bytes(out))


@pytest.mark.parametrize("tile,rps", [(None, 4), (None, 37), ((16, 32), 1)],
                         ids=["strip4", "strip37", "tiled"])
def test_planar_separate_with_gdal_metadata(tmp_path, tile, rps):
    """Planar config 2 (separate planes) in stripped and tiled layouts,
    with GDAL_METADATA band descriptions and items, decodes bit-identically
    whole-file and windowed."""
    rng = np.random.default_rng(8)
    img = rng.integers(0, 60_000, (3, 37, 52), dtype=np.uint16)
    path = str(tmp_path / "planar2.tif")
    _planar_separate_tiff(path, img, _GDAL_XML, tile=tile, rps=rps)

    got = read_gtiff(path)
    np.testing.assert_array_equal(got.data, img)
    assert got.band_names == ["Red", "Green", "Blue"]
    assert got.metadata == {"FUSE_MODEL": "GAIN_BLK_OFFSET",
                            "FUSE_KERNEL_SHAPE": "(5, 5)"}
    meta = read_gtiff_meta(path)
    assert meta.planar == 2 and meta.tiled == bool(tile)
    for y0, y1 in [(0, 37), (5, 21), (33, 37)]:
        np.testing.assert_array_equal(decode_window(path, meta, y0, y1),
                                      img[:, y0:y1])


# ------------------------------------------------------- e2e TIFF variants

@pytest.mark.parametrize("comp", ["lzw", "packbits", "deflate", None])
@pytest.mark.parametrize("predictor", [1, 2])
def test_gtiff_codec_matrix(tmp_path, comp, predictor):
    """Every (codec × predictor) cell decodes bit-identically through the
    whole-file AND windowed paths, striped and tiled."""
    rng = np.random.default_rng(42)
    img = rng.integers(0, 60_000, (3, 37, 52), dtype=np.uint16)
    img[:, :8] = 7  # a run so RLE/LZW actually compress something

    strip_path = str(tmp_path / f"s_{comp}_{predictor}.tif")
    write_gtiff(strip_path, img, compress=comp, rows_per_strip=8,
                predictor=predictor, epsg=32633)
    got = read_gtiff(strip_path)
    np.testing.assert_array_equal(got.data, img)
    assert got.crs == "EPSG:32633"

    meta = read_gtiff_meta(strip_path)
    assert meta.predictor == predictor
    for y0, y1 in [(0, 8), (5, 21), (30, 37), (36, 37)]:
        np.testing.assert_array_equal(
            decode_window(strip_path, meta, y0, y1), img[:, y0:y1])

    tile_path = str(tmp_path / f"t_{comp}_{predictor}.tif")
    write_gtiff(tile_path, img, compress=comp, tile=(16, 32),
                predictor=predictor)
    np.testing.assert_array_equal(read_gtiff(tile_path).data, img)
    tmeta = read_gtiff_meta(tile_path)
    for y0, y1 in [(0, 16), (10, 30), (33, 37)]:
        np.testing.assert_array_equal(
            decode_window(tile_path, tmeta, y0, y1), img[:, y0:y1])


def test_lzw_float_band_no_predictor(tmp_path):
    """Float data with LZW (predictor stays 1 — predictor 2 is
    integer-only and must be rejected loudly)."""
    img = np.linspace(0, 1, 24 * 24, dtype=np.float32).reshape(1, 24, 24)
    path = str(tmp_path / "f.tif")
    write_gtiff(path, img, compress="lzw", rows_per_strip=24)
    np.testing.assert_array_equal(read_gtiff(path).data, img)
    with pytest.raises(ValueError, match="integer"):
        write_gtiff(str(tmp_path / "bad.tif"), img, compress="lzw",
                    predictor=2)


# ----------------------------------------------------------- GeoKey kinds

def test_geokey_geographic_vs_projected(tmp_path):
    """ADVICE #2: geographic codes land in GeographicTypeGeoKey (2048) with
    ModelType=2; projected in ProjectedCSTypeGeoKey (3072) with ModelType=1."""
    import struct as _struct

    img = np.ones((1, 4, 4), dtype=np.uint8)
    for epsg, want_key, want_model in [(4326, 2048, 2), (32633, 3072, 1)]:
        path = str(tmp_path / f"crs_{epsg}.tif")
        write_gtiff(path, img, epsg=epsg)
        got = read_gtiff(path)
        assert got.crs == f"EPSG:{epsg}"
        assert read_gtiff_meta(path).crs == f"EPSG:{epsg}"
        # raw directory audit: the right key id + model type are present
        buf = open(path, "rb").read()
        from homonim_spark.tiffio import _read_ifd, _tag_value
        (_, ifd_off) = _struct.unpack("<HI", buf[2:8])
        f = io.BytesIO(buf)
        tags, _ = _read_ifd(f, ifd_off, "<")
        gk = _tag_value(f, tags[34735], "<")
        keys = {gk[4 + i * 4]: gk[7 + i * 4] for i in range(gk[3])}
        assert keys[1024] == want_model          # GTModelTypeGeoKey
        assert keys[1025] == 1                   # GTRasterTypeGeoKey
        assert keys[want_key] == epsg
        assert (2048 in keys) != (3072 in keys)  # never both/neither


# ------------------------------------------- reference golden re-encoded

def test_reference_golden_reencoded_lzw_roundtrip(tmp_path):
    """The reference's own committed golden (deflate) re-encoded as
    LZW+predictor-2-free float decodes bit-identically — codec parity on a
    real artifact the reference produced, not just synthetic fixtures."""
    golden = ("/root/reference/tests/data/parameter/"
              "float_100cm_rgb_FUSE_cREF_mGAIN-OFFSET_k5_5_PARAM.tif")
    if not os.path.exists(golden):
        pytest.skip(f"fixture absent: {golden}")
    src = read_gtiff(golden)
    path = str(tmp_path / "golden_lzw.tif")
    write_gtiff(path, src.data, transform=src.transform,
                nodata=src.nodata, compress="lzw", rows_per_strip=16)
    back = read_gtiff(path)
    np.testing.assert_array_equal(back.data, src.data)
    assert back.nodata == src.nodata or (
        np.isnan(back.nodata) and np.isnan(src.nodata))
    meta = read_gtiff_meta(path)
    h = src.data.shape[1]
    for y0, y1 in [(0, 16), (h // 2 - 3, h // 2 + 9), (h - 5, h)]:
        np.testing.assert_array_equal(
            decode_window(path, meta, y0, y1), src.data[:, y0:y1])


# ------------------------------------------------- remote (https) raster scan

class _RangeHandler:
    """http.server handler factory with HTTP Range support (stdlib
    SimpleHTTPRequestHandler serves only whole files), so the remote-scan
    path is tested against a real HTTP endpoint."""

    def __new__(cls, directory):
        import http.server
        import os

        class H(http.server.BaseHTTPRequestHandler):
            def log_message(self, *a):  # quiet
                pass

            def do_GET(self):
                fp = os.path.join(directory, self.path.lstrip("/"))
                if not os.path.isfile(fp):
                    self.send_error(404)
                    return
                data = open(fp, "rb").read()
                rng = self.headers.get("Range")
                if rng and rng.startswith("bytes="):
                    a, _, b = rng[6:].partition("-")
                    a = int(a)
                    if a >= len(data):
                        self.send_error(416)
                        return
                    b = int(b) if b else len(data) - 1
                    b = min(b, len(data) - 1)
                    body = data[a: b + 1]
                    self.send_response(206)
                    self.send_header(
                        "Content-Range", f"bytes {a}-{b}/{len(data)}")
                else:
                    body = data
                    self.send_response(200)
                self.send_header("Content-Length", str(len(body)))
                self.end_headers()
                self.wfile.write(body)

        return H


@pytest.fixture()
def http_raster_server(tmp_path):
    import http.server
    import threading

    srv = http.server.ThreadingHTTPServer(
        ("127.0.0.1", 0), _RangeHandler(str(tmp_path)))
    t = threading.Thread(target=srv.serve_forever, daemon=True)
    t.start()
    yield f"http://127.0.0.1:{srv.server_address[1]}", tmp_path
    srv.shutdown()


def test_https_windowed_scan_matches_local(http_raster_server):
    """The reference accepts https:// sources directly
    (``raster_pair.py:76-79``); the engine's windowed reader speaks HTTP
    range requests: meta parse + window decode over http:// must be
    bit-identical to the local file, fetching only byte ranges."""
    base, tmp_path = http_raster_server
    rng = np.random.default_rng(11)
    img = rng.integers(0, 60_000, (2, 45, 38), dtype=np.uint16)
    local = str(tmp_path / "remote.tif")
    write_gtiff(local, img, compress="lzw", rows_per_strip=8, epsg=32633,
                transform=(2.0, 0.0, 100.0, 0.0, -2.0, 500.0))
    url = f"{base}/remote.tif"

    meta_l, meta_r = read_gtiff_meta(local), read_gtiff_meta(url)
    assert meta_r == meta_l
    for y0, y1 in [(0, 8), (6, 23), (40, 45)]:
        np.testing.assert_array_equal(
            decode_window(url, meta_r, y0, y1),
            decode_window(local, meta_l, y0, y1))
    # whole-file path over http too
    np.testing.assert_array_equal(read_gtiff(url).data, img)


def test_https_ingest_e2e(http_raster_server, spark):
    """End-to-end: windowed ingestion from an http:// URL produces the
    same canonical tiles as the local path."""
    from homonim_spark.operators.ingest import ingest_gtiff_files_windowed
    from homonim_spark import datagen, grid as _grid
    from homonim_spark.tiles import decode_tile

    base, tmp_path = http_raster_server
    RES_ = datagen.FIXTURE_RES
    tile_px = 16
    cell = _grid.cell_size(RES_)
    px = cell / tile_px
    rng = np.random.default_rng(5)
    img = rng.normal(size=(1, 32, 32)).astype(np.float32)
    local = str(tmp_path / "e2e.tif")
    write_gtiff(local, img, compress="deflate", rows_per_strip=8,
                transform=(px, 0.0, 0.0, 0.0, px, 0.0))

    got_r = ingest_gtiff_files_windowed(
        spark, f"{base}/e2e.tif", "src", RES_, tile_px,
        window_rows=16).toPandas()
    got_l = ingest_gtiff_files_windowed(
        spark, local, "src", RES_, tile_px, window_rows=16).toPandas()
    assert len(got_r) == len(got_l) > 0
    key = lambda df: df.sort_values(["band", "cell_id"]).reset_index(drop=True)
    gr, gl = key(got_r), key(got_l)
    for i in range(len(gr)):
        np.testing.assert_array_equal(
            decode_tile(gr.data[i], tile_px, tile_px),
            decode_tile(gl.data[i], tile_px, tile_px))


# --------------------------------------------------- BigTIFF + byte orders

@pytest.mark.parametrize("bigtiff", [False, True])
@pytest.mark.parametrize("byteorder", ["<", ">"])
def test_bigtiff_and_byteorder_matrix(tmp_path, bigtiff, byteorder):
    """Every (format × byte-order) cell round-trips bit-identically through
    whole-file AND windowed paths.  BigTIFF is mandatory for > 4 GiB files
    — the NORM for corpus-scale mosaics; MM-order files are routinely
    produced by older toolchains (the reference reads both via GDAL)."""
    rng = np.random.default_rng(13)
    img = rng.integers(0, 60_000, (2, 37, 29), dtype=np.uint16)
    path = str(tmp_path / f"bt_{bigtiff}_{byteorder == '<'}.tif")
    write_gtiff(path, img, compress="lzw", rows_per_strip=8, predictor=2,
                epsg=32633, transform=(2.0, 0.0, 10.0, 0.0, -2.0, 90.0),
                bigtiff=bigtiff, byteorder=byteorder)

    head = open(path, "rb").read(4)
    assert head[:2] == (b"II" if byteorder == "<" else b"MM")
    magic = int.from_bytes(head[2:4], "little" if byteorder == "<" else "big")
    assert magic == (43 if bigtiff else 42)

    got = read_gtiff(path)
    np.testing.assert_array_equal(got.data, img)
    assert got.crs == "EPSG:32633"
    assert got.transform == (2.0, 0.0, 10.0, 0.0, -2.0, 90.0)

    meta = read_gtiff_meta(path)
    assert meta.bo == byteorder
    for y0, y1 in [(0, 8), (5, 21), (30, 37)]:
        np.testing.assert_array_equal(
            decode_window(path, meta, y0, y1), img[:, y0:y1])


def test_bigtiff_float_tiled_roundtrip(tmp_path):
    img = np.linspace(-4, 9, 3 * 48 * 32, dtype=np.float32).reshape(3, 48, 32)
    path = str(tmp_path / "bt_f32.tif")
    write_gtiff(path, img, compress="deflate", tile=(16, 16), nodata=-4.0,
                bigtiff=True)
    got = read_gtiff(path)
    np.testing.assert_array_equal(got.data, img)
    assert got.nodata == -4.0
    meta = read_gtiff_meta(path)
    np.testing.assert_array_equal(decode_window(path, meta, 13, 35),
                                  img[:, 13:35])


# ---------------------------------------------------------------------------
# internal overviews (chained reduced-resolution IFDs, GDAL convention —
# the reference's build_overviews artifact, fuse.py:152-165)
# ---------------------------------------------------------------------------

def test_overview_level_rule_matches_reference():
    """Levels are 2^m, capped at 8, stopping while the shortest dimension
    keeps >= min_level_pixels px (fuse.py:158-164: num = min(max_levels,
    floor(log2(min(shape))) - log2(min_px)))."""
    from homonim_spark.tiffio import build_overviews
    img = np.zeros((1, 1100, 900), dtype=np.float32)
    assert [o.shape for o in build_overviews(img)] == [(1, 550, 450)]
    assert [o.shape[1:] for o in build_overviews(img, min_level_pixels=64)] \
        == [(550, 450), (275, 225), (138, 113)]
    # below the rule entirely -> no levels (and the writer emits one IFD)
    assert build_overviews(np.zeros((1, 300, 300), np.float32)) == []
    # max_num_levels cap
    big = np.zeros((1, 4096, 4096), np.uint8)
    assert len(build_overviews(big, min_level_pixels=1)) == 8


def test_overview_average_is_masked_block_mean():
    """Each overview pixel is the mean of VALID source px in its 2^m-block
    footprint (average resampling with nodata), all-invalid -> nodata."""
    from homonim_spark.tiffio import build_overviews
    img = np.arange(64, dtype=np.float32).reshape(1, 8, 8)
    img[0, :2, :2] = np.nan          # one fully-invalid 2x2 block
    img[0, 2, 2] = np.nan            # one partially-invalid block
    (lv1,) = build_overviews(img, min_level_pixels=4)
    assert lv1.shape == (1, 4, 4)
    assert np.isnan(lv1[0, 0, 0])
    # partial block: mean of the 3 valid values
    assert lv1[0, 1, 1] == pytest.approx((19 + 26 + 27) / 3)
    assert lv1[0, 3, 3] == pytest.approx((54 + 55 + 62 + 63) / 4)
    # explicit-nodata integer variant
    ii = np.full((1, 8, 8), 7, dtype=np.uint16)
    ii[0, :2, :2] = 0
    (ilv,) = build_overviews(ii, nodata=0, min_level_pixels=4)
    assert ilv.dtype == np.uint16
    assert ilv[0, 0, 0] == 0 and ilv[0, 1, 1] == 7


def test_overview_ifd_chain_roundtrip(tmp_path):
    """write_gtiff(overviews=...) chains reduced-resolution IFDs after the
    primary; every level reads back bit-exact via read_gtiff(ifd=n), geo
    tags stay on the primary only, and NewSubfileType=1 marks overviews."""
    from homonim_spark.tiffio import build_overviews
    rng = np.random.default_rng(7)
    img = rng.uniform(0, 50, (2, 1100, 900)).astype(np.float32)
    img[0, 5:60, 5:60] = np.nan
    ovs = build_overviews(img, min_level_pixels=64)
    path = str(tmp_path / "ovw.tif")
    write_gtiff(path, img, transform=(1, 0, 0, 0, -1, 1100), tile=(256, 256),
                compress="deflate", epsg=32633, overviews=ovs)
    g0 = read_gtiff(path)
    np.testing.assert_array_equal(g0.data, img)
    assert g0.n_overviews == len(ovs) == 3
    assert g0.crs == "EPSG:32633" and g0.transform is not None
    for n, ov in enumerate(ovs, start=1):
        gn = read_gtiff(path, ifd=n)
        np.testing.assert_array_equal(gn.data, ov)
        # tags live on the primary IFD only, but the reader presents
        # overviews GDAL-style: primary CRS + pixel-scaled transform
        # (ADVICE r05 #1)
        assert gn.crs == "EPSG:32633"
        sx = 900 / ov.shape[2]
        sy = 1100 / ov.shape[1]
        assert gn.transform == pytest.approx((1 * sx, 0, 0, 0, -1 * sy, 1100))
    with pytest.raises(ValueError, match="chain ended"):
        read_gtiff(path, ifd=len(ovs) + 1)
    # the windowed (meta/decode_window) path keeps reading the PRIMARY image
    meta = read_gtiff_meta(path)
    assert (meta.height, meta.width) == (1100, 900)
    np.testing.assert_array_equal(decode_window(path, meta, 100, 400),
                                  img[:, 100:400])


@pytest.mark.parametrize("bigtiff,byteorder,compress,predictor", [
    (False, "<", "lzw", 2), (True, ">", "packbits", 1),
])
def test_overview_chain_codec_matrix(tmp_path, bigtiff, byteorder,
                                     compress, predictor):
    """The IFD chain survives the same (format x byte order x codec)
    matrix as single-IFD files."""
    from homonim_spark.tiffio import build_overviews
    rng = np.random.default_rng(3)
    img = (rng.uniform(0, 255, (1, 600, 520))).astype(np.uint8)
    img[0, :80, :80] = 0
    ovs = build_overviews(img, nodata=0, min_level_pixels=64)
    assert len(ovs) == 3
    path = str(tmp_path / "ovw_mx.tif")
    write_gtiff(path, img, nodata=0, rows_per_strip=48, compress=compress,
                predictor=predictor, bigtiff=bigtiff, byteorder=byteorder,
                overviews=ovs)
    assert read_gtiff(path).n_overviews == 3
    for n, ov in enumerate(ovs, start=1):
        np.testing.assert_array_equal(read_gtiff(path, ifd=n).data, ov)


def test_windowed_reads_of_overview_levels(tmp_path):
    """read_gtiff_meta(ifd=n) + decode_window serve pyramid levels with
    the same bounded block-range reads as the primary image."""
    from homonim_spark.tiffio import build_overviews
    img = (np.arange(600 * 520, dtype=np.int64) % 251) \
        .astype(np.uint8).reshape(1, 600, 520)
    ovs = build_overviews(img, min_level_pixels=64)
    path = str(tmp_path / "mw.tif")
    write_gtiff(path, img, tile=(64, 64), compress="lzw", overviews=ovs)
    for n, ov in enumerate(ovs, start=1):
        m = read_gtiff_meta(path, ifd=n)
        assert (m.height, m.width) == ov.shape[1:]
        np.testing.assert_array_equal(
            decode_window(path, m, 3, m.height - 2), ov[:, 3: m.height - 2])
    with pytest.raises(ValueError, match="chain ended"):
        read_gtiff_meta(path, ifd=len(ovs) + 1)


def test_overview_ifd_inherits_nodata(tmp_path):
    """ADVICE r05 #1: read paths present internal overviews with the
    PRIMARY dataset's nodata (GDAL semantics) — otherwise masked() treats
    overview fill values (e.g. -9999) as valid data."""
    from homonim_spark.tiffio import build_overviews
    img = np.full((1, 256, 256), 7.0, dtype=np.float32)
    img[0, :128] = -9999.0
    ovs = build_overviews(img, nodata=-9999.0, min_level_pixels=64)
    assert len(ovs) >= 1
    path = str(tmp_path / "nd.tif")
    write_gtiff(path, img, nodata=-9999.0, transform=(1, 0, 0, 0, -1, 256),
                epsg=32633, overviews=ovs)
    for n in range(1, len(ovs) + 1):
        gn = read_gtiff(path, ifd=n)
        assert gn.nodata == -9999.0
        # masked() must blank the fill half, not show -9999 as data
        m = gn.masked()
        assert np.isnan(m[0, : m.shape[1] // 2]).all()
        mn = read_gtiff_meta(path, ifd=n)
        assert mn.nodata == -9999.0
        assert mn.crs == "EPSG:32633"
        assert mn.transform is not None
        assert mn.transform[0] == pytest.approx(256 / gn.data.shape[2])
