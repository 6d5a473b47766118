"""Deterministic, engine-independent dataset splitting and sampling.

Training pipelines need train/val/test assignment that is (a) stable
across runs, partitionings, and cluster sizes, (b) reproducible OUTSIDE
the engine that created it (auditors re-derive membership with any tool
that has md5), and (c) computed without a shuffle.  `rand(seed)` fails
(a) across repartitions and (b) entirely; Spark's xxhash64 fails (b).

The assignment here hashes a stable key column with md5 and buckets the
first 8 hex chars (32 bits) into [0, 1000): row → split i iff
bucket < cumulative boundary i.  Pure projection — no shuffle, no state,
same answer at any parallelism, and one line of SQL in any other engine.
"""
from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

__all__ = ["hash_bucket", "hash_split"]


def hash_bucket(key: Column, salt: str = "") -> Column:
    """Uniform bucket in [0, 1000) from md5(key ∥ salt) — the first 8 hex
    chars as a 32-bit int, mod 1000.  Changing ``salt`` yields an
    independent assignment (fresh holdout)."""
    h = F.md5(F.concat(key.cast("string"), F.lit(salt)))
    return F.conv(F.substring(h, 1, 8), 16, 10).cast("long") % 1000


def hash_split(
    df: DataFrame,
    key_col: str,
    fractions: dict[str, float],
    salt: str = "",
) -> DataFrame:
    """Append a ``split`` label ('train'/'val'/… in ``fractions`` order) by
    deterministic hash bucketing on ``key_col``.  Fractions must sum to
    ≤ 1; any remainder is labelled NULL (excluded rows).  Boundaries are
    ``round(cum_frac * 1000)`` — exact integers, so membership is
    bit-stable and re-derivable in any engine with md5.
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = hash_bucket(F.col(key_col), salt)
    expr = F.lit(None).cast("string")
    bounds: list[tuple[str, int]] = []
    cum = 0.0
    for name, frac in fractions.items():
        cum += frac
        bounds.append((name, round(cum * 1000)))
    for name, hi in reversed(bounds):
        expr = F.when(bucket < hi, F.lit(name)).otherwise(expr)
    # reversed + otherwise-chaining makes the FIRST band win at each
    # boundary: bucket < hi_train → train even though also < hi_val
    return df.withColumn("split", expr)
