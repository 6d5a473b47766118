"""Multimodal (image/audio/video) column operators.

Media payloads are opaque ``binary`` columns with typed metadata — exactly
the engine's tile model generalized.  Decode / feature-extract / resize /
frame-sample run as :func:`~homonim_spark.tiles.map_tile_batches` UDFs, with
each payload a view of the Arrow buffer.

Real codecs in this container: ``raw-f32`` (the engine's native float32-LE
tile codec), ``png`` (pure-python decoder/encoder, ``homonim_spark.pngio``
— stdlib zlib, 8-bit grey/RGB/alpha) and ``wav`` (stdlib ``wave``, PCM
8/16/32-bit → float32 frames×channels).  Video codecs are NOT available, so
that decode remains a clearly-marked ``NotImplementedError`` stub; the
Spark-side plumbing — schema, partitioning, UDF signature, Arrow batch
shape — is real and tested for all codecs.
"""

from __future__ import annotations

import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from homonim_spark.tiles import decode_tile, map_tile_batches

MEDIA_FEATURES_SCHEMA = T.StructType([
    T.StructField("media_ref", T.StringType(), False),
    T.StructField("codec", T.StringType(), False),
    T.StructField("n_bytes", T.LongType(), False),
    T.StructField("width", T.IntegerType(), True),
    T.StructField("height", T.IntegerType(), True),
    T.StructField("mean", T.DoubleType(), True),
    T.StructField("std", T.DoubleType(), True),
    T.StructField("p_valid", T.DoubleType(), True),
])


def decode_media(data: bytes, codec: str, h: int | None = None, w: int | None = None) -> np.ndarray:
    """Decode a media payload to a numpy array.

    ``raw-f32``: the engine's native float32-LE tile codec (real).
    ``png``: pure-python PNG decode (real; ``homonim_spark.pngio``).
    Anything else (jpeg/wav/mp4...) requires codec libraries not present
    in this environment — STUB, clearly marked.
    """
    if codec == "raw-f32":
        if h is None or w is None:
            raise ValueError("raw-f32 requires h and w")
        return decode_tile(data, h, w)
    if codec == "png":
        # real compressed-image decode: pure-python PNG (homonim_spark.pngio)
        from homonim_spark.pngio import read_png
        return read_png(bytes(data)).astype(np.float32)
    if codec == "wav":
        # real audio decode: stdlib wave module (PCM 8/16/32-bit);
        # returns (n_frames, n_channels) float32 in [-1, 1)
        import io
        import wave
        with wave.open(io.BytesIO(bytes(data)), "rb") as wf:
            nch, sw, _, nframes = (wf.getnchannels(), wf.getsampwidth(),
                                   wf.getframerate(), wf.getnframes())
            raw = wf.readframes(nframes)
        if sw == 2:
            x = np.frombuffer(raw, dtype="<i2").astype(np.float32) / 32768.0
        elif sw == 4:
            x = np.frombuffer(raw, dtype="<i4").astype(np.float32) / 2147483648.0
        elif sw == 1:  # WAV 8-bit is unsigned
            x = (np.frombuffer(raw, dtype=np.uint8).astype(np.float32) - 128.0) / 128.0
        else:
            raise ValueError(f"unsupported WAV sample width {sw}")
        return x.reshape(-1, nch)
    raise NotImplementedError(
        f"codec {codec!r}: video decode libraries are not available in this "
        "container; plug a decoder in here (the Spark plumbing around this "
        "function is complete — 'raw-f32', 'png' and 'wav' are real)"
    )


def media_features(
    media: DataFrame,
    codec: str = "raw-f32",
) -> DataFrame:
    """Per-payload feature extraction: byte size, dims, mean/std/valid-share.

    Input schema: (media_ref, h, w, data). Batches stream through Arrow;
    nothing is collected.
    """

    def extract(media_ref, h, w, data):
        try:
            arr = decode_media(data, codec, h, w)
        except NotImplementedError:  # undecodable codec: byte-level features only
            yield media_ref, codec, data.size, None, None, None, None, None
            return
        valid = ~np.isnan(arr)
        # float64 accumulation: exact for integer-valued (png) pixels,
        # oracle-reproducible
        yield (media_ref, codec, data.size, int(arr.shape[1]), int(arr.shape[0]),
               float(np.nanmean(arr, dtype=np.float64)) if valid.any() else None,
               float(np.nanstd(arr, dtype=np.float64)) if valid.any() else None,
               float(valid.mean()))

    return map_tile_batches(media.select("media_ref", "h", "w", "data"), extract,
                            MEDIA_FEATURES_SCHEMA)


def resize_media(media: DataFrame, out_h: int, out_w: int) -> DataFrame:
    """Resize raw-f32 payloads to (out_h, out_w): block mean when shrinking,
    nearest when growing."""
    from homonim_spark.kernel import ops

    schema = T.StructType([
        T.StructField("media_ref", T.StringType(), False),
        T.StructField("h", T.IntegerType(), False),
        T.StructField("w", T.IntegerType(), False),
        T.StructField("data", T.BinaryType(), False),
    ])

    def resize_plane(arr: np.ndarray) -> np.ndarray:
        if arr.shape[0] >= out_h:
            f = (arr.shape[0] // out_h, arr.shape[1] // out_w)
            return ops.downsample_average(arr, f)
        f = (out_h // arr.shape[0], out_w // arr.shape[1])
        return ops.upsample_nearest(arr, f)

    def resize(media_ref, h, w, data):
        out = resize_plane(decode_tile(data, h, w))
        yield media_ref, out.shape[0], out.shape[1], out

    return map_tile_batches(media.select("media_ref", "h", "w", "data"), resize, schema)
