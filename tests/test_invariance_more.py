"""More invariance + dedup coverage: compare tile-size invariance (the
reference's block-size invariance, tests/test_compare.py:108-127), media
payload dedup, executed watermarked windows."""

import numpy as np
import pandas as pd
import pytest
from pyspark.sql import functions as F

from homonim_spark import datagen
from homonim_spark.operators.compare import compare


def test_compare_tile_size_invariance(spark):
    """The same image tiled at 16px vs 8px cells gives identical compare
    stats (float64 partial sums; the reference is invariant to rel 1e-5,
    ours to float association order)."""
    # same 32x32 ref-pixel image, two tilings: tile granularity is encoded
    # in FIXTURE_RES cells, so align tile*cells and pattern
    a = datagen.RasterFixtureSpec(pair_id="ti", cells=(2, 2), tile=16, factor=2,
                                  true_gain=2.0, true_offset=10.0)
    b = datagen.RasterFixtureSpec(pair_id="ti", cells=(4, 4), tile=8, factor=2,
                                  true_gain=2.0, true_offset=10.0)
    outs = []
    for spec in (a, b):
        _, tiles_pdf = datagen.build_pair_tables(spec)
        _, tiles = datagen.to_spark(
            spark, pd.DataFrame([{"doc_id": "x", "spans": []}]), tiles_pdf)
        outs.append(compare(tiles).toPandas().iloc[0])
    for col in ("r2", "rmse", "rrmse"):
        assert outs[0][col] == pytest.approx(outs[1][col], rel=1e-9)
    assert outs[0]["n"] == outs[1]["n"]


def test_media_payload_dedup(spark):
    """Exact-duplicate media payloads found by md5 over the binary column —
    the multimodal analogue of text dedup."""
    spec = datagen.RasterFixtureSpec(pair_id="md", cells=(2, 2), tile=16, factor=1,
                                     nan_border_ref=0, nan_border_src=0)
    _, tiles_pdf = datagen.build_pair_tables(spec)
    _, tiles = datagen.to_spark(
        spark, pd.DataFrame([{"doc_id": "x", "spans": []}]), tiles_pdf)
    groups = (
        tiles.groupBy(F.md5(F.col("data")).alias("payload_md5"))
        .agg(F.count("*").alias("n"), F.min("media_ref").alias("canonical"))
        .filter(F.col("n") > 1)
        .toPandas()
    )
    # factor=1, no borders, identity relation → every src tile's bytes equal
    # its ref tile's bytes → 4 duplicate groups of 2
    assert len(groups) == 4
    assert (groups["n"] == 2).all()


def test_stateful_sessionize_executes(spark, tmp_path):
    """applyInPandasWithState sessionization over a file stream: sessions
    split on the inactivity gap and match the batch lag-window answer."""
    from homonim_spark.streaming import stateful_sessionize, stop_after_data_batch
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    # user 1: two sessions separated by 1 hour; user 2: one session
    for i in range(5):
        rows.append({"ts": base + pd.Timedelta(seconds=60 * i), "user_id": 1,
                     "value": 1.0})
    for i in range(3):
        rows.append({"ts": base + pd.Timedelta(hours=2, seconds=60 * i), "user_id": 1,
                     "value": 2.0})
    rows.append({"ts": base, "user_id": 2, "value": 5.0})
    in_dir = str(tmp_path / "sess_in")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(in_dir)
    stream = (spark.readStream
              .schema("ts timestamp, user_id long, value double").parquet(in_dir))
    out = stateful_sessionize(stream, gap_seconds=1800)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("sessions").option("checkpointLocation", str(tmp_path / "sck"))
         .trigger(availableNow=True).start())
    stop_after_data_batch(q)
    res = spark.sql("select * from sessions").toPandas()
    # the gap-closed session for user 1 is emitted; open sessions stay in
    # state (would emit on timeout in a long-running stream)
    closed = res[(res.user_id == 1)]
    assert len(closed) == 1
    assert closed.iloc[0]["n_events"] == 5
    assert closed.iloc[0]["sess_value"] == pytest.approx(5.0)


def test_stateful_sessionize_group_larger_than_arrow_batch(spark, tmp_path):
    """A group larger than arrow.maxRecordsPerBatch (256 in this engine)
    arrives as SEVERAL pandas chunks in arbitrary relative order; the
    operator must sessionize the whole group in ts order, not per chunk
    (regression: per-chunk sorting merged/split sessions whenever a
    later-ts chunk was processed first)."""
    from homonim_spark.streaming import stateful_sessionize, stop_after_data_batch
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    # one user, 3 sessions x 220 events (660 rows total, ~3 Arrow chunks),
    # sessions separated by 2h; events 10s apart inside a session
    for sess in range(3):
        t0 = base + pd.Timedelta(hours=3 * sess)
        rows += [{"ts": t0 + pd.Timedelta(seconds=10 * i),
                  "user_id": 7, "value": 1.0} for i in range(220)]
    in_dir = str(tmp_path / "big_sess_in")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(in_dir)
    stream = (spark.readStream
              .schema("ts timestamp, user_id long, value double")
              .parquet(in_dir))
    out = stateful_sessionize(stream, gap_seconds=1800)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("big_sessions")
         .option("checkpointLocation", str(tmp_path / "big_sck"))
         .trigger(availableNow=True).start())
    stop_after_data_batch(q)
    res = spark.sql("select * from big_sessions").toPandas()
    # first two sessions closed by the 2h gaps; third stays in state
    assert len(res) == 2
    assert sorted(res["n_events"]) == [220, 220]
    assert all(res["sess_value"] == 220.0)
    for _, r in res.iterrows():
        assert (r["sess_end"] - r["sess_start"]) == pd.Timedelta(
            seconds=10 * 219)


def test_windowed_event_stats_executes(spark, tmp_path):
    """Watermarked sliding-window aggregation actually executes over a file
    stream (availableNow) and produces the right per-window counts."""
    from homonim_spark.streaming import windowed_event_stats
    base = pd.Timestamp("2026-01-01 00:00:00")
    rows = []
    for i in range(120):
        rows.append({"ts": base + pd.Timedelta(seconds=i),
                     "event_type": "a" if i % 2 == 0 else "b",
                     "value": float(i)})
    in_dir = str(tmp_path / "ev")
    spark.createDataFrame(pd.DataFrame(rows)).write.parquet(in_dir)
    stream = (spark.readStream.schema("ts timestamp, event_type string, value double")
              .parquet(in_dir))
    # watermark must pass a window's end for append mode to emit it: with
    # 120s of events, a 10s watermark finalizes the first 1-minute window
    out = windowed_event_stats(stream, window="1 minute", watermark="10 seconds")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("winstats").option("checkpointLocation", str(tmp_path / "ck"))
         .trigger(availableNow=True).start())
    q.awaitTermination(120)
    res = spark.sql("select * from winstats").toPandas()
    # 2 one-minute windows x 2 event types; the last window may be withheld
    # by the watermark in append mode — at least the first is final
    assert len(res) >= 2
    first = res[res.win_start == base]
    assert sorted(first["event_type"]) == ["a", "b"]
    assert first["n"].sum() == 60
