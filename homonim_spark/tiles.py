"""Tile codec and array utilities.

A *tile* is the engine's row-level payload: a dense float32 block of pixels
with ``NaN`` as the canonical nodata, exactly like the reference's internal
representation (``/root/reference/homonim/raster_array.py:48-49`` — all data
is coerced to float32 with nodata=NaN on read).  Tiles travel through Spark
as ``BinaryType`` (float32 little-endian, C row-major) and are decoded to
numpy only inside Arrow-batched Python UDFs; :func:`map_tile_batches` is
the Arrow-native boundary that hands them over without per-tile copies.
"""

from __future__ import annotations

from typing import Callable, Dict, Iterator, List, Optional, Tuple, Union

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

#: the one definition of a payload's pixel format (float32 little-endian)
TILE_DTYPE = np.dtype("<f4")
#: canonical internal nodata (reference ``raster_array.py:48-49``)
DEFAULT_NODATA = float("nan")


def encode_tile(arr: np.ndarray) -> bytes:
    """numpy (h, w) or (bands, h, w) float array → float32-LE bytes."""
    return np.ascontiguousarray(arr, dtype=TILE_DTYPE).tobytes()


def decode_tile(data: bytes, h: int, w: int) -> np.ndarray:
    """float32-LE bytes → numpy (h, w) float32 array (zero-copy view + reshape)."""
    return np.frombuffer(data, dtype=TILE_DTYPE).reshape(h, w)


#: one record batch as ``{column name: list of row values}``
Columns = Dict[str, list]


def _binary_views(col) -> List[Optional[np.ndarray]]:
    """One uint8 numpy view per row into a binary Arrow array's value
    buffer, cut at its offsets (None for a null row)."""
    _, off_buf, val_buf = col.buffers()
    offsets = np.frombuffer(off_buf, np.int32, count=len(col) + 1,
                            offset=col.offset * 4).tolist()
    values = np.frombuffer(val_buf, np.uint8) if val_buf is not None else np.empty(0, np.uint8)
    views = [values[o0:o1] for o0, o1 in zip(offsets[:-1], offsets[1:])]
    if col.null_count:
        for i in np.flatnonzero(col.is_null().to_numpy(zero_copy_only=False)):
            views[i] = None
    return views


def _binary_array(parts: List[Optional[np.ndarray]]):
    """A binary Arrow array whose value buffer holds each part, in C order,
    as :data:`TILE_DTYPE` pixels (like :func:`encode_tile`; None makes a
    null row), written in one contiguous copy."""
    import pyarrow as pa
    sizes = [0 if p is None else p.size * TILE_DTYPE.itemsize for p in parts]
    offsets = np.zeros(len(parts) + 1, np.int32)
    np.cumsum(sizes, out=offsets[1:])
    values = np.empty(int(offsets[-1]), np.uint8)
    for p, o, n in zip(parts, offsets.tolist(), sizes):
        if n:
            values[o:o + n].view(TILE_DTYPE).reshape(p.shape)[...] = p
    valid = np.array([p is not None for p in parts], dtype=bool)
    n_null = len(parts) - int(valid.sum())
    bitmap = pa.py_buffer(np.packbits(valid, bitorder="little")) if n_null else None
    return pa.Array.from_buffers(pa.binary(), len(parts),
                                 [bitmap, pa.py_buffer(offsets), pa.py_buffer(values)],
                                 null_count=n_null)


def map_tile_batches(df: DataFrame, fn: Callable[[Iterator[Columns]], Iterator[Columns]],
                     schema: T.StructType) -> DataFrame:
    """Run ``fn`` over each partition of ``df`` through ``mapInArrow``.

    ``fn`` takes an iterator of input batches and yields output batches,
    both as ``{column: list}`` dicts.  A binary input column arrives as
    uint8 numpy views into the batch's Arrow value buffer (no ``bytes``
    object per tile, no pandas frame); a binary output column takes numpy
    arrays (or None for null), written as :data:`TILE_DTYPE` pixels into
    one contiguous buffer."""
    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        out_schema = to_arrow_schema(schema)

        def columns(batch) -> Columns:
            return {name: _binary_views(col) if pa.types.is_binary(col.type)
                    else col.to_pylist()
                    for name, col in zip(batch.schema.names, batch.columns)}

        for cols in fn(columns(b) for b in batches):
            yield pa.RecordBatch.from_arrays(
                [_binary_array(cols[f.name]) if pa.types.is_binary(f.type)
                 else pa.array(cols[f.name], type=f.type) for f in out_schema],
                schema=out_schema)

    return df.mapInArrow(run, schema)


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
