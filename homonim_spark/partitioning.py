"""Scan-parallelism hygiene (optimization guide §2.5 "input skew").

Driver tables arrive as single parquet files with ONE row group (sf1.0:
``documents.parquet`` = 50k rows / 1 row group), so a file scan cannot
parallelize below row-group granularity no matter what
``spark.sql.files.maxPartitionBytes`` says: every downstream per-row
operator (regex profiling, GEMM bucketing, md5 fingerprinting) runs on a
single core while the other 31 idle.  The guide's fix for an unsplittable
input is to repartition immediately after the read.

``rebalance`` does that *adaptively*: only when the scan yields fewer
partitions than the session's parallelism (so a 100 TB table with
thousands of row groups is left untouched — no blanket shuffle), and the
exchange moves only the small table itself (metadata-scale by
construction when the trigger fires).
"""

from __future__ import annotations

from pyspark.sql import DataFrame


def pinned_repartition(df: DataFrame, *cols: str) -> DataFrame:
    """Hash-repartition by ``cols`` with an EXPLICIT partition count equal
    to the session's ``spark.sql.shuffle.partitions``.

    Semantically identical to ``df.repartition(*cols)`` — but the explicit
    count opts the exchange out of AQE partition coalescing, which merges
    shuffle partitions by BYTES.  The engine's tile group stages
    (:func:`homonim_spark.tiles.map_tile_groups`) are CPU-bound per byte
    (tile decode + kernel fit on ~16 KB rows), so bytes-based coalescing
    starves cores there (measured 4-6× on the fuse exchange,
    BENCH/BASELINE.md round 2) while the relational shuffles benefit from
    it; pinning here lets coalescing stay on globally.
    """
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def rebalance(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` to the session default parallelism if
    its current partitioning underuses the cluster.

    Triggers only when ``n_partitions < defaultParallelism`` — i.e. for
    small/unsplittable inputs whose shuffle cost is trivial; large
    well-split scans pass through unchanged, so this is scale-safe.
    """
    sc = df.sparkSession.sparkContext
    target = sc.defaultParallelism
    if df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df
