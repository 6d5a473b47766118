"""Tests for lineage/checkpoint-resume, streaming, and multimodal plumbing."""

import json
import os

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from homonim_spark import datagen
from homonim_spark import lineage
from homonim_spark.lineage import StageRunner
from homonim_spark.operators.multimodal import media_features, resize_media
from homonim_spark.tiles import decode_tile


def test_stage_runner_checkpoint_resume(spark, tmp_path):
    run_dir = str(tmp_path / "run")
    runner = StageRunner(spark, run_dir)
    calls = {"n": 0}

    def build():
        calls["n"] += 1
        return spark.range(100).withColumn("v", F.col("id") * 2)

    cfg = {"stage": "double", "v": 1}
    out1 = runner.run("double", cfg, build)
    assert out1.count() == 100 and calls["n"] == 1
    # resume: same config → checkpoint read, no recompute
    out2 = runner.run("double", cfg, build)
    assert out2.count() == 100 and calls["n"] == 1
    # config change → recompute
    runner.run("double", {"stage": "double", "v": 2}, build)
    assert calls["n"] == 2
    # per-partition lineage metrics recorded
    m = runner.metrics().toPandas()
    assert set(m["stage"]) == {"double"}
    assert m["n_rows"].sum() == 200  # two completed runs × 100 rows


def test_stage_lineage_has_one_row_per_written_file(spark, tmp_path):
    """Lineage rows are the writer's partitions: an 8-partition write gives
    8 part files and 8 rows, summing to the manifest's and the data's count."""
    runner = StageRunner(spark, str(tmp_path / "run"))
    out = runner.run("s", {"v": 1}, lambda: spark.range(20000).repartition(8))
    lin = runner.metrics().toPandas()
    assert sorted(lin["partition_id"]) == list(range(8))
    assert set(lin["stage"]) == {"s"}
    with open(tmp_path / "run" / "s" / "_MANIFEST.json") as f:
        n_rows = json.load(f)["n_rows"]
    assert lin["n_rows"].sum() == n_rows == out.count() == 20000
    assert runner.metrics().schema.simpleString() == \
        "struct<stage:string,partition_id:int,n_rows:bigint>"


def test_stage_runs_only_the_jobs_of_its_write(spark, tmp_path):
    sc = spark.sparkContext
    df = spark.range(20000).repartition(8)

    def n_jobs(group, action):
        sc.setJobGroup(group, group)
        try:
            action()
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        return len(sc.statusTracker().getJobIdsForGroup(group))

    plain = n_jobs("plain_write", lambda: df.write.parquet(str(tmp_path / "plain")))
    runner = StageRunner(spark, str(tmp_path / "run"))
    staged = n_jobs("stage_write", lambda: runner.run("s", {"v": 1}, lambda: df))
    assert staged == plain


def test_stage_rebuilds_after_a_crash_while_writing_its_manifest(spark, tmp_path, monkeypatch):
    """A run killed inside the manifest write must leave no manifest that a
    later run trusts or cannot parse: the next run rebuilds the stage."""
    runner = StageRunner(spark, str(tmp_path / "run"))
    calls = {"a": 0, "b": 0}

    def build(key, n):
        def f():
            calls[key] += 1
            return spark.range(n)
        return f

    runner.run("s", {"v": "a"}, build("a", 10))
    real_dump = lineage.json.dump

    def crashing_dump(obj, fh, **kw):
        text = json.dumps(obj, **kw)
        fh.write(text[: len(text) // 2])
        raise OSError("killed while writing the manifest")

    monkeypatch.setattr(lineage.json, "dump", crashing_dump)
    with pytest.raises(OSError, match="killed"):
        runner.run("s", {"v": "b"}, build("b", 20))
    monkeypatch.setattr(lineage.json, "dump", real_dump)
    # the data on disk is b's; a's old manifest must not vouch for it
    assert runner.run("s", {"v": "a"}, build("a", 10)).count() == 10
    assert calls == {"a": 2, "b": 1}
    assert runner.run("s", {"v": "b"}, build("b", 20)).count() == 20
    assert calls == {"a": 2, "b": 2}


def test_streaming_incremental_media_refs(spark, tmp_path):
    from homonim_spark.streaming import incremental_media_refs
    docs_pdf, tiles_pdf = datagen.build_pair_tables(datagen.RasterFixtureSpec(cells=(2, 2)))
    in_dir = str(tmp_path / "in"); out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs, _ = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    docs.write.parquet(in_dir)

    def read_docs():
        return spark.readStream.schema(datagen.DOCUMENTS_SCHEMA).parquet(in_dir)

    stream = read_docs()
    assert stream.isStreaming
    q = incremental_media_refs(stream, out_dir, ckpt)
    q.awaitTermination(120)
    out = spark.read.parquet(out_dir)
    want = sum(sum(1 for s in spans if s["kind"] == "media") for spans in docs_pdf["spans"])
    assert out.count() == want
    # restart with no new files: exactly-once — nothing reprocessed
    q2 = incremental_media_refs(read_docs(), out_dir, ckpt)
    q2.awaitTermination(120)
    assert spark.read.parquet(out_dir).count() == want


def test_incremental_fuse_exactly_once(spark, tmp_path):
    """Streaming fuse: new document files are corrected exactly once;
    restart with no new input appends nothing."""
    from homonim_spark.streaming import incremental_fuse
    spec = datagen.RasterFixtureSpec(pair_id="inc", cells=(2, 2), tile=16, factor=2)
    docs_pdf, tiles_pdf = datagen.build_pair_tables(spec)
    docs, tiles = datagen.to_spark(spark, docs_pdf, tiles_pdf)
    tiles = tiles.cache(); tiles.count()
    in_dir = str(tmp_path / "in"); out_dir = str(tmp_path / "out")
    ckpt = str(tmp_path / "ckpt")
    docs.write.parquet(in_dir)

    def read_docs():
        return spark.readStream.schema(datagen.DOCUMENTS_SCHEMA).parquet(in_dir)

    q = incremental_fuse(read_docs(), tiles, out_dir, ckpt,
                         model="gain", kernel_shape=(3, 3))
    q.awaitTermination(180)
    n1 = spark.read.parquet(out_dir).count()
    assert n1 == 4

    # restart: no new files → nothing reprocessed
    q2 = incremental_fuse(read_docs(), tiles, out_dir, ckpt,
                          model="gain", kernel_shape=(3, 3))
    q2.awaitTermination(180)
    assert spark.read.parquet(out_dir).count() == n1

    # new documents arrive → only they are processed
    spec2 = datagen.RasterFixtureSpec(pair_id="inc2", cells=(2, 2), tile=16,
                                      factor=2, origin=(8, 8))
    docs2_pdf, tiles2_pdf = datagen.build_pair_tables(spec2)
    docs2, tiles2 = datagen.to_spark(spark, docs2_pdf, tiles2_pdf)
    all_tiles = tiles.unionByName(tiles2).cache()
    docs2.write.mode("append").parquet(in_dir)
    q3 = incremental_fuse(read_docs(), all_tiles, out_dir, ckpt,
                          model="gain", kernel_shape=(3, 3))
    q3.awaitTermination(180)
    out = spark.read.parquet(out_dir).toPandas()
    assert len(out) == 8
    assert (out["image_id"] == "inc2").sum() == 4  # only the new pair was fused


def test_windowed_event_stats_plan(spark):
    """Watermarked windowed agg builds a valid streaming plan (executed via
    a memory-rate source would need wall-clock; plan validation suffices)."""
    from homonim_spark.streaming import windowed_event_stats
    ev = spark.readStream.format("rate").option("rowsPerSecond", 1).load() \
        .select(F.col("timestamp").alias("ts"), F.lit("a").alias("event_type"),
                F.col("value").cast("double"))
    out = windowed_event_stats(ev, window="10 seconds", watermark="30 seconds")
    assert out.isStreaming
    assert set(out.columns) == {"win_start", "win_end", "event_type", "n", "avg_value"}


def test_media_features_and_resize(spark):
    _, tiles_pdf = datagen.build_pair_tables(datagen.RasterFixtureSpec(cells=(2, 2)))
    tiles = spark.createDataFrame(tiles_pdf[["media_ref", "h", "w", "data"]])
    feats = media_features(tiles).toPandas()
    assert len(feats) == len(tiles_pdf)
    assert (feats["n_bytes"] == feats["width"] * feats["height"] * 4).all()
    assert feats["p_valid"].between(0, 1).all()

    small = resize_media(tiles.limit(4), 8, 8).toPandas()
    assert (small["h"] == 8).all() and (small["w"] == 8).all()
    arr = decode_tile(small.iloc[0]["data"], 8, 8)
    assert arr.shape == (8, 8)


def test_decode_stub_raises_for_unknown_codec():
    from homonim_spark.operators.multimodal import decode_media
    with pytest.raises(NotImplementedError):
        decode_media(b"\xff\xd8\xff", "jpeg")


def test_decode_media_png_and_wav_real():
    """png and wav are REAL decode paths now (round-2): pixel/sample values
    round-trip exactly through the pure-python codecs."""
    import io
    import wave

    from homonim_spark.operators.multimodal import decode_media
    from homonim_spark.pngio import write_png

    img = (np.arange(48, dtype=np.uint8) * 5).reshape(6, 8)
    out = decode_media(write_png(img), "png")
    assert out.shape == (6, 8)
    np.testing.assert_array_equal(out, img.astype(np.float32))

    s = (np.arange(-8, 8, dtype=np.int16) * 1024)
    buf = io.BytesIO()
    with wave.open(buf, "wb") as wf:
        wf.setnchannels(2)
        wf.setsampwidth(2)
        wf.setframerate(8000)
        wf.writeframes(s.tobytes())
    a = decode_media(buf.getvalue(), "wav")
    assert a.shape == (8, 2)  # 16 samples interleaved over 2 channels
    np.testing.assert_allclose(a.ravel(), s.astype(np.float32) / 32768.0)

    with pytest.raises(NotImplementedError):
        decode_media(b"\x00\x00\x00\x18ftypmp42", "mp4")


def test_streaming_dedup_exact(spark, tmp_path):
    """Streaming exact dedup keeps one doc per distinct normalized text
    ACROSS micro-batches: a duplicate arriving in a later batch is dropped
    because its fingerprint lives in the state store."""
    import pandas as pd

    from homonim_spark.streaming import streaming_dedup_exact

    in_dir = str(tmp_path / "in")
    ckpt = str(tmp_path / "ck")
    out_dir = str(tmp_path / "out")
    schema = "doc_id string, text string"
    b1 = pd.DataFrame([("a1", "the quick brown fox"),
                       ("a2", "The  quick BROWN fox "),   # dup of a1 (normalized)
                       ("b1", "something else entirely")],
                      columns=["doc_id", "text"])
    # ONE file per micro-batch: multi-file batches split across triggers in
    # file-mtime order, making WHICH duplicate is first-seen a timing race
    # (first-seen-wins is the documented cross-trigger semantics; min
    # doc_id holds within a trigger)
    spark.createDataFrame(b1, schema).coalesce(1).write.parquet(f"{in_dir}/batch1")

    def run_once():
        stream = spark.readStream.schema(schema).option(
            "maxFilesPerTrigger", "1").parquet(f"{in_dir}/*")
        return (streaming_dedup_exact(stream)
                .writeStream.format("parquet")
                .option("path", out_dir).option("checkpointLocation", ckpt)
                .trigger(availableNow=True).start())

    run_once().awaitTermination(120)
    kept1 = spark.read.parquet(out_dir).toPandas()
    assert sorted(kept1["doc_id"]) == ["a1", "b1"]  # a2 deduped in-batch

    # later micro-batch: dup of a1 plus one new doc
    b2 = pd.DataFrame([("c1", "the quick brown fox"),     # dup ACROSS batches
                       ("d1", "a genuinely new document")],
                      columns=["doc_id", "text"])
    spark.createDataFrame(b2, schema).coalesce(1).write.parquet(f"{in_dir}/batch2")
    run_once().awaitTermination(120)
    kept2 = spark.read.parquet(out_dir).toPandas()
    assert sorted(kept2["doc_id"]) == ["a1", "b1", "d1"]  # c1 dropped by state


def test_streaming_dedup_min_across_pandas_chunks(spark, tmp_path):
    """A fingerprint group larger than arrow.maxRecordsPerBatch is split
    into multiple pandas chunks within one trigger; the canonical doc must
    be min(doc_id) over ALL chunks, not the first doc of chunk 1 (ADVICE
    r3).  doc_ids are fed descending so the minimum arrives LAST."""
    import pandas as pd

    from homonim_spark.streaming import streaming_dedup_exact

    old = spark.conf.get("spark.sql.execution.arrow.maxRecordsPerBatch", None)
    spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", "50")
    try:
        in_dir = str(tmp_path / "in")
        n = 500
        pdf = pd.DataFrame(
            [(f"doc-{n - i:04d}", "same text every time") for i in range(n)]
            + [("zz-null", None)],                  # NULL text: excluded
            columns=["doc_id", "text"])
        spark.createDataFrame(pdf, "doc_id string, text string") \
            .coalesce(1).write.parquet(f"{in_dir}/b1")
        stream = spark.readStream.schema("doc_id string, text string") \
            .parquet(f"{in_dir}/*")
        q = (streaming_dedup_exact(stream)
             .writeStream.format("parquet")
             .option("path", str(tmp_path / "out"))
             .option("checkpointLocation", str(tmp_path / "ck"))
             .trigger(availableNow=True).start())
        q.awaitTermination(120)
        kept = spark.read.parquet(str(tmp_path / "out")).toPandas()
        # one survivor: the smallest doc_id of the whole group; the NULL-text
        # doc is excluded entirely (matches batch _collapse_exact + oracle)
        assert list(kept["doc_id"]) == ["doc-0001"]
    finally:
        if old is None:
            spark.conf.unset("spark.sql.execution.arrow.maxRecordsPerBatch")
        else:
            spark.conf.set("spark.sql.execution.arrow.maxRecordsPerBatch", old)


def test_map_tile_batches_round_trips_binary_payloads_and_nulls(spark):
    """The Arrow tile boundary: ``fn(*row)`` sees a binary input as a numpy
    view (None for a null row), also when Spark sends large binaries, and
    returns any number of output rows; a
    binary output is written in its array's own dtype, little-endian, in C
    order (float32 and a reversed, non-contiguous uint16 view here), and
    nulls survive."""
    from pyspark.sql import types as T
    from homonim_spark.tiles import map_tile_batches

    rows = [(i, None if i % 5 == 0 else np.arange(i, dtype="<f4").tobytes())
            for i in range(40)]
    df = spark.createDataFrame(rows, "id long, data binary").repartition(3)
    schema = T.StructType([T.StructField("id", T.LongType()),
                           T.StructField("data", T.BinaryType()),
                           T.StructField("n", T.IntegerType())])

    def double(i, v):
        if v is None:
            yield i, None, -1
        elif i % 7:                      # i % 7 == 0 emits no row
            arr = v.view("<f4") * 2
            yield i, arr if i % 2 else arr.astype(np.uint16)[::-1], v.nbytes

    large = "spark.sql.execution.arrow.useLargeVarTypes"
    old = spark.conf.get(large, None)
    try:
        for use_large in ("false", "true"):     # binary or large_binary batches
            spark.conf.set(large, use_large)
            got = {r["id"]: r for r in map_tile_batches(df, double, schema).collect()}
            assert sorted(got) == [i for i in range(40) if i % 5 == 0 or i % 7]
            for i, data in rows:
                if i not in got:
                    continue
                r = got[i]
                if data is None:
                    assert r["data"] is None and r["n"] == -1
                    continue
                assert r["n"] == 4 * i
                want = np.arange(i, dtype="<f4") * 2
                if i % 2 == 0:
                    want = want.astype("<u2")[::-1]
                assert bytes(r["data"]) == want.tobytes()
    finally:
        if old is None:
            spark.conf.unset(large)
        else:
            spark.conf.set(large, old)
