"""End-to-end: corrected documents, kNN fallback, staged resumable pipeline."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from homonim_spark import datagen
from homonim_spark.operators import fuse as fuse_ops
from homonim_spark.pipelines import staged_fuse_pipeline


def test_fuse_documents_every_media_span_corrected(spark):
    """north_star: corrected documents preserve the exact span sequence
    (kind, text, order); src media spans are re-pointed to their corrected
    payload ids and resolve 1:1 against the fused table."""
    spec = datagen.RasterFixtureSpec(pair_id="e2e", cells=(2, 2), tile=16, factor=2)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    corrected_docs, fused = fuse_ops.fuse_documents(
        docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5))
    fused = fused.cache()

    # span sequences round-trip exactly; every src media span (all corrected
    # on this fixture) is re-pointed to corr://<orig>, everything else intact
    rb = corrected_docs.toPandas().set_index("doc_id")
    for _, row in docs_pdf.iterrows():
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in rb.loc[row["doc_id"], "spans"]]
        want = [(s["kind"], s["text"],
                 ("corr://" + s["media_ref"]) if "/src/" in s["media_ref"]
                 else s["media_ref"], s["offset"]) for s in row["spans"]]
        assert got == want

    # re-pointed spans ↔ corrected payloads: exactly one match each way
    corr_spans = fuse_ops.explode_spans(corrected_docs).filter(
        F.col("media_ref").startswith("corr://")).select("media_ref")
    payloads = fused.filter(F.col("corr").isNotNull()).select("media_ref")
    assert corr_spans.join(payloads, "media_ref", "left_anti").count() == 0
    assert payloads.join(corr_spans, "media_ref", "left_anti").count() == 0
    assert corr_spans.count() == payloads.count() == 4  # 2x2 cells, 1 band

    # opt-out restores the immutable document
    immutable_docs, _ = fuse_ops.fuse_documents(
        docs, tiles, repoint_prefix=None, model="gain", kernel_shape=(1, 1))
    rb0 = immutable_docs.toPandas().set_index("doc_id")
    for _, row in docs_pdf.iterrows():
        got = [tuple(s.values()) for s in rb0.loc[row["doc_id"], "spans"]]
        assert got == [tuple(s.values()) for s in row["spans"]]


def test_knn_fallback_fills_missing_ref_cells(spark):
    """Delete some ref tiles; knn_fallback borrows the nearest donor and the
    fuse output still covers every src cell (FIXTURES.md §3 ref_sparse)."""
    spec = datagen.RasterFixtureSpec(pair_id="knn", cells=(3, 3), tile=16, factor=2)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    # deterministically delete the ref tiles of every 3rd cell
    t = tiles_pdf[~((tiles_pdf.role == "ref") & ((tiles_pdf.row * 3 + tiles_pdf.col) % 3 == 0))]
    docs, tiles = datagen.to_spark(spark, docs_pdf, t)

    no_fb = fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(1, 1)).toPandas()
    with_fb = fuse_ops.fuse(docs, tiles, model="gain", kernel_shape=(1, 1),
                            knn_fallback_ring=2).toPandas()
    # without fallback, cells lacking a same-cell ref produce empty params
    assert (no_fb["n_valid"] == 0).sum() == 3
    # fallback borrows the nearest donor: every cell now has valid params
    assert len(with_fb) == 9
    assert (with_fb["n_valid"] > 0).all()


def test_staged_pipeline_resumes(spark, tmp_path):
    spec = datagen.RasterFixtureSpec(pair_id="st", cells=(2, 2), tile=16, factor=2)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    run_dir = str(tmp_path / "run")

    out1 = staged_fuse_pipeline(spark, docs, tiles, run_dir)
    n_fused = out1["fuse"].count()
    assert n_fused == 4
    assert out1["stats"].count() > 0

    # resume: all stages complete → pure checkpoint reads, same results
    out2 = staged_fuse_pipeline(spark, docs, tiles, run_dir)
    assert out2["fuse"].count() == n_fused
    runner = out2["runner"]
    m = runner.metrics().toPandas()
    assert set(m["stage"]) == {"ingest", "fuse", "sink", "stats"}
    # lineage recorded once per stage (no recompute on resume)
    assert m[m.stage == "fuse"]["n_rows"].sum() == n_fused


def test_staged_pipeline_on_the_src_proc_grid(spark, tmp_path):
    """proc_crs='src' with a finer source: parameter and corrected tiles
    share the src side, and the sink stage writes the fused payloads at it."""
    from homonim_spark.tiles import convert_array_dtype, decode_tile

    spec = datagen.RasterFixtureSpec(pair_id="sp", cells=(2, 2), tile=16, factor=2)
    docs, tiles = datagen.to_spark(spark, *datagen.build_pair_tables(spec))
    out = staged_fuse_pipeline(spark, docs, tiles, str(tmp_path / "run"), proc_crs="src")
    side = spec.tile * spec.factor
    fused = {r.cell_id: r for r in out["fuse"].toPandas().itertuples(index=False)}
    sink = out["sink"].toPandas()
    assert len(fused) == len(sink) == 4
    assert {r.h for r in fused.values()} == {side}
    assert (sink["h"] == side).all() and (sink["w"] == side).all()
    for r in sink.itertuples(index=False):
        want = convert_array_dtype(decode_tile(fused[r.cell_id].corr, side, side), "float32", None)
        assert bytes(r.data) == want.tobytes()


def test_overview_snapshots_resume_across_restart(spark, tmp_path):
    """Overview levels commit as catalog snapshots; re-running the pipeline
    with the same config finds them in the snapshot log and skips the
    rebuild (VERDICT r01 next-step #9: resume via snapshots, not just stage
    manifests)."""
    spec = datagen.RasterFixtureSpec(pair_id="ov", cells=(4, 4), tile=16, factor=2)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    run_dir = str(tmp_path / "run")
    wh = str(tmp_path / "warehouse")

    # corrected image is 128x128 px (4 cells x 16 px x factor 2):
    # floor(log2(128)) - log2(16) = 3 levels
    out1 = staged_fuse_pipeline(spark, docs, tiles, run_dir,
                                overview_warehouse=wh, overview_min_px=16)
    assert len(out1["overviews"]) == 3
    counts1 = [lvl.count() for lvl in out1["overviews"]]
    assert counts1[0] == 4 and counts1[1] == 1  # 4x4 -> 2x2 -> 1x1

    from homonim_spark.catalog import TableCatalog
    cat = TableCatalog(spark, wh)
    snaps1 = cat.snapshots("overviews")
    assert len(snaps1) == 3
    assert [int(s["properties"]["level"]) for s in snaps1] == [0, 1, 2]

    # "restart": fresh pipeline call, same config — no new snapshots
    out2 = staged_fuse_pipeline(spark, docs, tiles, run_dir,
                                overview_warehouse=wh, overview_min_px=16)
    assert [lvl.count() for lvl in out2["overviews"]] == counts1
    assert len(cat.snapshots("overviews")) == 3  # nothing recommitted

    # changed config (different min_px) -> new fingerprint -> new snapshots
    out3 = staged_fuse_pipeline(spark, docs, tiles, run_dir,
                                overview_warehouse=wh, overview_min_px=32)
    assert len(out3["overviews"]) == 2
    assert len(cat.snapshots("overviews")) == 5


def test_fuse_documents_resolves_with_knn_fallback(spark):
    """VERDICT r01 'what's wrong #5': with kNN-borrowed reference tiles in
    play, the corrected documents must still resolve every *source* media
    span 1:1 to a corrected payload, and borrowed-donor refs (knn://) must
    never leak into fused output media_refs."""
    spec = datagen.RasterFixtureSpec(pair_id="kf", cells=(2, 4), tile=16, factor=2)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    # drop two ref tiles -> those src cells need donors
    drop = tiles_pdf[(tiles_pdf.role == "ref")].iloc[:2]["media_ref"].tolist()
    sparse = tiles_pdf[~tiles_pdf.media_ref.isin(drop)]
    docs, tiles = datagen.to_spark(spark, docs_pdf, sparse)

    corrected_docs, fused = fuse_ops.fuse_documents(
        docs, tiles, model="gain-blk-offset", kernel_shape=(5, 5),
        knn_fallback_ring=2)
    fused = fused.cache()

    # no knn:// donor refs leak into the fused payload table
    assert fused.filter(F.col("media_ref").contains("knn://")).count() == 0
    # every src media span resolves 1:1 to a corrected payload via the
    # re-pointed id
    corr_spans = fuse_ops.explode_spans(corrected_docs).filter(
        F.col("media_ref").startswith("corr://")).select("media_ref")
    payloads = fused.filter(F.col("corr").isNotNull()).select("media_ref")
    assert corr_spans.join(payloads, "media_ref", "left_anti").count() == 0
    assert payloads.join(corr_spans, "media_ref", "left_anti").count() == 0
    # every src span was corrected (donors fill the dropped-ref cells)
    n_src = fuse_ops.explode_spans(docs).filter(
        F.col("media_ref").contains("/src/")).count()
    assert corr_spans.count() == n_src
    # span sequences round-trip with only the corrected refs re-pointed
    # (dropped-ref spans keep their original media_ref: the ref payload is
    # gone but the document text/order is untouched)
    rb = corrected_docs.toPandas().set_index("doc_id")
    for _, row in docs_pdf.iterrows():
        got = [(s["kind"], s["text"], s["media_ref"], s["offset"])
               for s in rb.loc[row["doc_id"], "spans"]]
        want = [(s["kind"], s["text"],
                 ("corr://" + s["media_ref"]) if "/src/" in s["media_ref"]
                 else s["media_ref"], s["offset"]) for s in row["spans"]]
        assert got == want
