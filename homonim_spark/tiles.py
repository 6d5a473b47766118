"""Tile codec and array utilities.

A *tile* is the engine's row-level payload: a dense float32 block of pixels
with ``NaN`` as the canonical nodata, exactly like the reference's internal
representation (``/root/reference/homonim/raster_array.py:48-49`` — all data
is coerced to float32 with nodata=NaN on read).  Tiles travel through Spark
as ``BinaryType`` (float32 little-endian, C row-major) and enter or leave
Python only through this module's two ``mapInArrow`` helpers, which hand
them over as views of the Arrow buffers: :func:`map_tile_batches` (one
row at a time) and :func:`map_tile_groups` (one key group at a time).
"""

from __future__ import annotations

from typing import Callable, Iterable, Iterator, List, Optional, Sequence, Tuple, Union

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from homonim_spark.partitioning import pinned_repartition

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


def _rows(batch) -> Iterator[tuple]:
    """The rows of one Arrow record batch as tuples: a binary value as a
    uint8 numpy view into the batch's value buffer (None for null), any
    other value as its Python object."""
    import pyarrow as pa
    return zip(*[_binary_views(c, np.int32) if pa.types.is_binary(c.type)
                 else _binary_views(c, np.int64) if pa.types.is_large_binary(c.type)
                 else c.to_pylist() for c in batch.columns])


def _binary_views(col, offset_type) -> List[Optional[np.ndarray]]:
    """One uint8 numpy view per row into a binary Arrow array's value
    buffer, cut at its ``offset_type`` offsets (int64 when Spark sends
    large binaries, ``arrow.useLargeVarTypes``; None for a null row)."""
    _, off_buf, val_buf = col.buffers()
    offsets = np.frombuffer(off_buf, offset_type, count=len(col) + 1,
                            offset=col.offset * np.dtype(offset_type).itemsize).tolist()
    values = np.frombuffer(val_buf, np.uint8) if val_buf is not None else np.empty(0, np.uint8)
    views = [values[o0:o1] for o0, o1 in zip(offsets[:-1], offsets[1:])]
    if col.null_count:
        for i in np.flatnonzero(col.is_null().to_numpy(zero_copy_only=False)):
            views[i] = None
    return views


def _binary_array(parts: Sequence[Optional[np.ndarray]]):
    """A binary Arrow array whose value buffer holds each part's elements
    in C order, little-endian in the part's own dtype (a float32 tile is
    :data:`TILE_DTYPE`, as :func:`encode_tile` writes it; None makes a null
    row), written in one contiguous copy."""
    import pyarrow as pa
    sizes = [0 if p is None else p.nbytes for p in parts]
    offsets = np.zeros(len(parts) + 1, np.int32)
    np.cumsum(sizes, out=offsets[1:])
    values = np.empty(int(offsets[-1]), np.uint8)
    for p, o, n in zip(parts, offsets.tolist(), sizes):
        if n:
            values[o:o + n].view(p.dtype.newbyteorder("<")).reshape(p.shape)[...] = p
    valid = np.array([p is not None for p in parts], dtype=bool)
    n_null = len(parts) - int(valid.sum())
    bitmap = pa.py_buffer(np.packbits(valid, bitorder="little")) if n_null else None
    return pa.Array.from_buffers(pa.binary(), len(parts),
                                 [bitmap, pa.py_buffer(offsets), pa.py_buffer(values)],
                                 null_count=n_null)


def _map_arrow(df: DataFrame, fn: Callable[[Iterator[Iterator[tuple]]], Iterator[list]],
               schema: T.StructType) -> DataFrame:
    """``mapInArrow`` over ``df``: ``fn`` takes the input batches as row
    iterators (:func:`_rows`) and yields lists of output row tuples in
    ``schema`` order, each list one output batch (binary values as numpy
    arrays, see :func:`_binary_array`)."""
    def run(batches):
        import pyarrow as pa
        from pyspark.sql.pandas.types import to_arrow_schema
        out_schema = to_arrow_schema(schema)
        for rows in fn(_rows(b) for b in batches):
            if rows:
                yield pa.RecordBatch.from_arrays(
                    [_binary_array(c) if pa.types.is_binary(f.type) else pa.array(c, type=f.type)
                     for f, c in zip(out_schema, zip(*rows))], schema=out_schema)

    return df.mapInArrow(run, schema)


def map_tile_batches(df: DataFrame, fn: Callable[..., Iterable[tuple]],
                     schema: T.StructType) -> DataFrame:
    """Run ``fn(*row)`` on every row of ``df`` through ``mapInArrow``; it
    returns the row's output rows as tuples in ``schema`` order.  A binary
    input arrives as a uint8 numpy view into the Arrow value buffer (no
    ``bytes`` object per tile, no pandas frame); a binary output is a
    numpy array (or None), and each input batch's outputs leave as one
    Arrow batch."""
    return _map_arrow(df, lambda batches: ([out for row in rows for out in fn(*row)]
                                           for rows in batches), schema)


def map_tile_groups(df: DataFrame, keys: Sequence[str], fn: Callable[..., Iterable[tuple]],
                    schema: T.StructType) -> DataFrame:
    """Run ``fn(*key, rows)`` once per group of ``df`` rows sharing the
    ``keys`` columns; ``rows`` holds the group's other columns as tuples in
    ``df`` order, and ``fn`` returns output rows as
    :func:`map_tile_batches` does.

    Instead of ``groupBy().applyInArrow`` (whose per-group Arrow machinery
    costs more than the work of a small group), this hash-partitions on
    the keys (:func:`pinned_repartition`),
    sorts within partitions (spillable, no extra exchange) and streams the
    sorted batches through one ``mapInArrow``: a group is a run of
    consecutive rows, complete when the key changes or the partition ends,
    even when it spans batches."""
    n = len(keys)
    rest = [c for c in df.columns if c not in keys]
    keyed = pinned_repartition(df.select(*keys, *rest), *keys).sortWithinPartitions(*keys)

    def stream(batches):
        key, group = None, []
        for rows in batches:
            out = []
            for row in rows:
                if row[:n] != key:
                    if group:
                        out += fn(*key, group)
                    key, group = row[:n], []
                group.append(row[n:])
            yield out
        if group:
            yield list(fn(*key, group))

    return _map_arrow(keyed, stream, schema)


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
