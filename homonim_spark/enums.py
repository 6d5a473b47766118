"""Enums and error types.

Mirrors the reference's public enums (``/root/reference/homonim/enums.py:22-54``)
and exception hierarchy (``/root/reference/homonim/errors.py:21-62``) so a user
of the reference can map concepts 1:1.
"""

from __future__ import annotations

from enum import Enum


class Model(str, Enum):
    """Surface-reflectance correction model (reference ``enums.py:22-42``)."""

    gain = "gain"
    gain_blk_offset = "gain-blk-offset"
    gain_offset = "gain-offset"

    def __str__(self) -> str:  # click/CLI-friendly, like the reference
        return self.value


class ProcCrs(str, Enum):
    """Processing grid selection (reference ``enums.py:45-54``).

    ``auto`` resolves to the lower-resolution grid of the pair
    (reference ``raster_pair.py:193-224``).
    """

    auto = "auto"
    src = "src"
    ref = "ref"

    def __str__(self) -> str:
        return self.value


class HomonimSparkError(Exception):
    """Base engine error (reference ``errors.py:21``)."""


class ImageContentError(HomonimSparkError):
    """Coverage / content violations (reference ``errors.py``: ImageContentError).

    Raised e.g. when reference tiles do not cover the source extent
    (reference ``raster_pair.py:93-94`` / ``utils.py:228-252``).
    """


class BandMatchError(HomonimSparkError):
    """Band auto-matching failures (reference ``matched_pair.py:286-301``)."""


class ConfigError(HomonimSparkError):
    """Invalid engine configuration (kernel shape, tile size, ...)."""
