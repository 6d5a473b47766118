"""Multimodal (image/audio/video) column operators.

Media payloads are opaque ``binary`` columns with typed metadata — exactly
the engine's tile model generalized.  Decode / feature-extract / resize /
frame-sample run as Arrow-batched ``mapInPandas`` UDFs.

Real codecs in this container: ``raw-f32`` (the engine's native float32-LE
tile codec), ``png`` (pure-python decoder/encoder, ``homonim_spark.pngio``
— stdlib zlib, 8-bit grey/RGB/alpha) and ``wav`` (stdlib ``wave``, PCM
8/16/32-bit → float32 frames×channels).  Video codecs are NOT available, so
that decode remains a clearly-marked ``NotImplementedError`` stub; the
Spark-side plumbing — schema, partitioning, UDF signature, Arrow batch
shape — is real and tested for all codecs.
"""

from __future__ import annotations

from typing import Iterator

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from homonim_spark.tiles import decode_tile

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

    def extract(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                rec = {"media_ref": r.media_ref, "codec": codec,
                       "n_bytes": len(r.data), "width": None, "height": None,
                       "mean": None, "std": None, "p_valid": None}
                try:
                    arr = decode_media(r.data, codec, r.h, r.w)
                    valid = ~np.isnan(arr)
                    rec.update(
                        width=int(arr.shape[1]), height=int(arr.shape[0]),
                        # float64 accumulation: exact for integer-valued
                        # (png) pixels, oracle-reproducible
                        mean=float(np.nanmean(arr, dtype=np.float64)) if valid.any() else None,
                        std=float(np.nanstd(arr, dtype=np.float64)) if valid.any() else None,
                        p_valid=float(valid.mean()),
                    )
                except NotImplementedError:
                    pass  # undecodable codec: byte-level features only
                rows.append(rec)
            yield pd.DataFrame(rows, columns=[f.name for f in MEDIA_FEATURES_SCHEMA.fields])

    return media.select("media_ref", "h", "w", "data").mapInPandas(
        extract, schema=MEDIA_FEATURES_SCHEMA
    )


def resize_media(media: DataFrame, out_h: int, out_w: int, codec: str = "raw-f32") -> DataFrame:
    """Resize payloads to (out_h, out_w) — real for raw-f32 (block mean /
    nearest), stubbed for compressed codecs."""
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

    def resize(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        from homonim_spark.tiles import encode_tile
        for pdf in batches:
            rows = []
            for r in pdf.itertuples(index=False):
                arr = decode_media(r.data, codec, r.h, r.w)
                if arr.ndim == 3:  # per-channel resample (png RGB/RGBA)
                    out = np.stack([resize_plane(arr[:, :, c].astype(np.float32))
                                    for c in range(arr.shape[2])], axis=-1)
                else:
                    out = resize_plane(arr)
                if codec == "png":
                    from homonim_spark.pngio import write_png
                    buf = write_png(np.clip(np.round(out), 0, 255).astype(np.uint8))
                else:
                    buf = encode_tile(out)
                rows.append({"media_ref": r.media_ref, "h": out.shape[0],
                             "w": out.shape[1], "data": buf})
            yield pd.DataFrame(rows, columns=["media_ref", "h", "w", "data"])

    return media.select("media_ref", "h", "w", "data").mapInPandas(resize, schema=schema)
