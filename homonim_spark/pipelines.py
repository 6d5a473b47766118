"""Staged, checkpoint-resumable end-to-end pipelines.

Wires the fuse dataflow through :class:`homonim_spark.lineage.StageRunner`:
each stage is one parquet write with a config-fingerprinted manifest and
one lineage row per part file written; re-running a completed stage is a
checkpoint read (north_rule: resumable from checkpoint with per-partition
lineage + metrics).
"""

from __future__ import annotations

from typing import Optional, Tuple

from pyspark.sql import DataFrame, SparkSession

from homonim_spark.lineage import StageRunner, config_fingerprint


def staged_fuse_pipeline(
    spark: SparkSession,
    documents: DataFrame,
    tiles: DataFrame,
    run_dir: str,
    model: str = "gain-blk-offset",
    kernel_shape: Tuple[int, int] = (5, 5),
    overview_warehouse: Optional[str] = None,
    overview_min_px: int = 256,
    **fuse_kwargs,
) -> dict:
    """ingest-audit → fuse → corrected sink → param stats, each a resumable
    stage. Returns {stage: DataFrame} plus the runner for metrics access.
    The sink stage keeps float32 and the NaN nodata.

    With ``overview_warehouse`` set, a final stage builds the corrected-tile
    overview pyramid (reference stop rule, ``fuse.py:151-165``) and commits
    each level as a :class:`~homonim_spark.catalog.TableCatalog` snapshot
    with ``{"level": i, "fingerprint": cfg-hash}`` properties — re-running
    the pipeline with the same config finds the committed snapshots and
    skips the rebuild (checkpoint resume across restarts via the snapshot
    log, not just the stage manifests)."""
    from homonim_spark.operators import fuse as fz
    from homonim_spark.operators.sink import convert_tiles
    from homonim_spark.operators.stats import param_stats

    runner = StageRunner(spark, run_dir)
    cfg = {"model": model, "kernel": tuple(kernel_shape), **{
        k: str(v) for k, v in fuse_kwargs.items()}}

    used = runner.run("ingest", cfg, lambda: fz.referenced_tiles(documents, tiles))
    fused = runner.run("fuse", cfg, lambda: fz.fuse(
        documents, used, model=model, kernel_shape=kernel_shape, **fuse_kwargs))
    corrected = runner.run("sink", {**cfg, "dtype": "float32", "nodata": None},
                           lambda: convert_tiles(fused))
    stats = runner.run("stats", cfg, lambda: param_stats(fused, model=model))
    out = {"ingest": used, "fuse": fused, "sink": corrected,
           "stats": stats, "runner": runner}
    if overview_warehouse is not None:
        out["overviews"] = _overview_snapshots(
            spark, corrected, cfg, overview_warehouse, overview_min_px)
    return out


def _overview_snapshots(spark, corrected, cfg, warehouse, min_px):
    """Build corrected-tile overviews (at most 8 levels) and commit one
    catalog snapshot per level; resume = read back levels whose
    (fingerprint, level) snapshot already exists in the log."""
    from homonim_spark.catalog import TableCatalog
    from homonim_spark.operators.sink import build_overviews

    fp = config_fingerprint({**cfg, "max_levels": 8, "min_px": min_px})
    cat = TableCatalog(spark, warehouse)
    # snapshots() returns [] for a not-yet-created table on both backends
    done = {int(s["properties"]["level"]): s["snapshot_id"]
            for s in cat.snapshots("overviews")
            if s["properties"].get("fingerprint") == fp}
    levels = build_overviews(
        corrected.select("image_id", "band", "cell_id", "h", "w", "data"), min_px=min_px)
    out = []
    from pyspark.sql import functions as F
    # the fingerprint rides as a COLUMN on every row (not just a snapshot
    # property): append-mode reads union all prior snapshots, so a shared
    # warehouse reused across configs would otherwise mix stale tiles from
    # other fingerprints' level-i commits into each returned level
    lvl_filter = lambda i: (F.col("level") == i) & (F.col("fingerprint") == fp)
    for i, lvl in enumerate(levels):
        if i in done:  # resume across restarts: snapshot already committed
            out.append(cat.read("overviews", as_of=done[i])
                       .filter(lvl_filter(i)).drop("level", "fingerprint"))
            continue
        snap = cat.write(
            lvl.withColumn("level", F.lit(i)).withColumn("fingerprint", F.lit(fp)),
            "overviews", properties={"level": i, "fingerprint": fp})
        out.append(cat.read("overviews", as_of=snap)
                   .filter(lvl_filter(i)).drop("level", "fingerprint"))
    return out

