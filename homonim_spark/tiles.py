"""Tile codec and array utilities.

A *tile* is the engine's row-level payload: a dense float32 block of pixels
with ``NaN`` as the canonical nodata, exactly like the reference's internal
representation (``/root/reference/homonim/raster_array.py:48-49`` — all data
is coerced to float32 with nodata=NaN on read).  Tiles travel through Spark
as ``BinaryType`` (float32 little-endian, C row-major) and are decoded to
numpy only inside Arrow-batched pandas UDFs.
"""

from __future__ import annotations

from typing import Tuple, Union

import numpy as np

DEFAULT_DTYPE = np.float32
#: canonical internal nodata (reference ``raster_array.py:48-49``)
DEFAULT_NODATA = float("nan")


def encode_tile(arr: np.ndarray) -> bytes:
    """numpy (h, w) or (bands, h, w) float array → float32-LE bytes."""
    return np.ascontiguousarray(arr, dtype="<f4").tobytes()


def decode_tile(data: bytes, h: int, w: int) -> np.ndarray:
    """float32-LE bytes → numpy (h, w) float32 array (zero-copy view + reshape)."""
    return np.frombuffer(data, dtype="<f4").reshape(h, w)


def nan_equals(a, b):
    """True where a == b, treating NaN == NaN as true
    (reference ``utils.py:54-56``)."""
    return (a == b) | (np.isnan(a) & np.isnan(b))


def tile_mask(arr: np.ndarray) -> np.ndarray:
    """Valid-data mask: ``~nan_equals(arr, DEFAULT_NODATA)``; any-band
    reduction for 3-D arrays (reference ``raster_array.py:298-308``)."""
    mask = ~nan_equals(arr, DEFAULT_NODATA)
    if arr.ndim == 3:
        mask = np.any(mask, axis=0)
    return mask


def convert_array_dtype(array: np.ndarray, dtype: str, nodata=None) -> np.ndarray:
    """Convert the float32 working array to an output dtype for the sink.

    Replicates the reference's ``RasterArray._convert_array_dtype``
    (``/root/reference/homonim/raster_array.py:353-387``): promote to a
    copy, clip to the destination integer range, round half-to-even via
    ``np.round`` for float→int, and rewrite masked pixels to ``nodata``.
    """
    out_dtype = np.dtype(dtype)
    array = array.astype(np.promote_types(array.dtype, out_dtype), copy=True)
    mask = tile_mask(array)

    if np.issubdtype(out_dtype, np.integer):
        info = np.iinfo(out_dtype)
        np.clip(array, info.min, info.max, out=array)
        np.round(array, out=array)  # round half-to-even, like the reference
    elif out_dtype != np.dtype("float64"):
        finfo = np.finfo(out_dtype)
        np.clip(array, finfo.min, finfo.max, out=array)

    if nodata is not None:
        array[~mask] = nodata
    out = array.astype(out_dtype, copy=False)
    return out


def get_data_window(mask: np.ndarray) -> Union[Tuple[int, int, int, int], None]:
    """Bounding (row0, col0, row1, col1) of true values, or None if empty —
    the per-tile piece of the reference's distributed data-window union
    (``/root/reference/homonim/stats.py:135-173``)."""
    rows = np.any(mask, axis=1)
    cols = np.any(mask, axis=0)
    if not rows.any():
        return None
    r = np.where(rows)[0]
    c = np.where(cols)[0]
    return int(r[0]), int(c[0]), int(r[-1]) + 1, int(c[-1]) + 1
