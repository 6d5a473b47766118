"""Structured Streaming surface.

The reference is strictly batch (SURVEY.md §2.7) — the engine adds an
incremental mode for the 100 TB operating reality: new document files arrive
continuously and each micro-batch must be corrected exactly once.

- ``incremental_media_refs`` / ``incremental_fuse``: readStream over a
  documents directory → explode → append sink, ``Trigger.AvailableNow`` for
  catch-up-then-stop semantics with a durable checkpoint.
- ``windowed_event_stats``: watermarked tumbling-window aggregation over an
  event stream (late data dropped after the watermark) — the standard
  late-data pattern for the metrics/telemetry tables.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

_NO_DATA_BATCHES = "spark.sql.streaming.noDataMicroBatches.enabled"


@contextmanager
def data_batches_only(spark: SparkSession):
    """Start the queries of the ``with`` block without no-data micro-batches.

    A stateful query with pending processing-time timeouts runs no-data
    micro-batches forever, so under ``availableNow`` it never ends.  Without
    them it ends after its data batches.  The session setting is restored
    on exit: a watermarked aggregation needs its closing no-data batch to
    emit the windows the final watermark closes."""
    old = spark.conf.get(_NO_DATA_BATCHES)
    spark.conf.set(_NO_DATA_BATCHES, "false")
    try:
        yield
    finally:
        spark.conf.set(_NO_DATA_BATCHES, old)


def incremental_media_refs(
    docs_stream: DataFrame, out_path: str, checkpoint: str
) -> StreamingQuery:
    """Append-mode extraction of media references from streaming documents —
    the ingest edge of an incremental fuse (each new file processed exactly
    once; restart resumes from the checkpoint)."""
    from homonim_spark.operators.fuse import explode_spans

    media = explode_spans(docs_stream).filter("kind = 'media'").select(
        "doc_id", "pos", "media_ref")
    return (
        media.writeStream.outputMode("append")
        .format("parquet").option("path", out_path)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


def incremental_fuse(
    docs_stream: DataFrame,
    tiles: DataFrame,
    out_path: str,
    checkpoint: str,
    **fuse_kwargs,
) -> StreamingQuery:
    """Incremental fuse: each micro-batch of newly-arrived documents runs
    through the full batch fuse pipeline (``foreachBatch`` — the standard
    pattern for reusing a batch dataflow incrementally), appending corrected
    tiles exactly once.  Restart resumes from the checkpoint; an already
    processed document file is never re-corrected.

    ``tiles`` is the static payload table (at scale: the Iceberg tile
    table); only the arriving documents are streaming.
    """
    from homonim_spark.operators.fuse import fuse

    def process_batch(batch_docs: DataFrame, batch_id: int) -> None:
        if batch_docs.isEmpty():
            return
        fused = fuse(batch_docs, tiles, **fuse_kwargs)
        fused.write.mode("append").parquet(out_path)

    return (
        docs_stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint)
        .trigger(availableNow=True)
        .start()
    )


#: inactivity that closes a stateful_sessionize session
SESSION_GAP_SECONDS = 1800


def stateful_sessionize(events_stream: DataFrame) -> DataFrame:
    """Custom stateful streaming operator: per-user session aggregation with
    ``applyInPandasWithState`` — sessions close after ``SESSION_GAP_SECONDS`` of
    inactivity; state is (session start, last ts, count, value sum) per
    user, emitted when the gap passes or the state times out.

    The streaming twin of the batch ``sessionize`` query (lag windows);
    state is bounded per key and expires after one hour of processing time
    without data for the key.
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    out_schema = T.StructType([
        T.StructField("user_id", T.LongType()),
        T.StructField("sess_start", T.TimestampType()),
        T.StructField("sess_end", T.TimestampType()),
        T.StructField("n_events", T.LongType()),
        T.StructField("sess_value", T.DoubleType()),
    ])
    state_schema = T.StructType([
        T.StructField("start_us", T.LongType()),
        T.StructField("last_us", T.LongType()),
        T.StructField("n", T.LongType()),
        T.StructField("vsum", T.DoubleType()),
    ])

    def update(key, pdfs, state: GroupState):
        (user_id,) = key
        rows = []
        start_us = last_us = None
        n = 0
        vsum = 0.0
        if state.exists:
            start_us, last_us, n, vsum = state.get
        if state.hasTimedOut:
            if n:
                rows.append((user_id, pd.Timestamp(start_us, unit="us"),
                             pd.Timestamp(last_us, unit="us"), n, vsum))
            state.remove()
        else:
            # a group larger than arrow.maxRecordsPerBatch (256 in this
            # engine) arrives as SEVERAL chunks in arbitrary relative
            # order — sessionization needs the full group in time order,
            # so concatenate before ONE sort (bounded by one user's
            # events per trigger, the same bound the state itself
            # carries; per-chunk sorting silently merged/split sessions)
            pdf = pd.concat(list(pdfs), ignore_index=True).sort_values("ts")
            for ts, value in zip(pdf["ts"], pdf["value"]):
                us = int(pd.Timestamp(ts).value // 1000)
                if last_us is not None and us - last_us > SESSION_GAP_SECONDS * 1_000_000:
                    rows.append((user_id, pd.Timestamp(start_us, unit="us"),
                                 pd.Timestamp(last_us, unit="us"), n, vsum))
                    start_us, n, vsum = us, 0, 0.0
                if start_us is None:
                    start_us = us
                last_us = us
                n += 1
                vsum += float(value)
            state.update((start_us, last_us, n, vsum))
            state.setTimeoutDuration(3600_000)
        yield pd.DataFrame(rows, columns=["user_id", "sess_start", "sess_end",
                                          "n_events", "sess_value"])

    return (
        events_stream.groupBy("user_id")
        .applyInPandasWithState(
            update, outputStructType=out_schema, stateStructType=state_schema,
            outputMode="append", timeoutConf=GroupStateTimeout.ProcessingTimeTimeout,
        )
    )


def windowed_event_stats(
    events_stream: DataFrame,
    window: str = "1 minute",
    watermark: str = "2 minutes",
) -> DataFrame:
    """Watermarked tumbling-window aggregation over an event stream:
    late rows beyond the watermark are dropped; state is bounded."""
    return (
        events_stream.withWatermark("ts", watermark)
        .groupBy(F.window("ts", window).alias("win"), "event_type")
        .agg(F.count("*").alias("n"), F.avg("value").alias("avg_value"))
        .select(
            F.col("win.start").alias("win_start"),
            F.col("win.end").alias("win_end"),
            "event_type", "n", "avg_value",
        )
    )


def streaming_dedup_exact(
    doc_stream: DataFrame,
) -> DataFrame:
    """Streaming exact dedup: emit each document only the FIRST time its
    normalized-text fingerprint is seen across the whole stream — the
    stateful twin of the batch ``dedup_exact`` operator, the core of an
    incremental training-data ingest (new crawl shards arrive as
    micro-batches; duplicates of anything already ingested are dropped).

    ``applyInPandasWithState`` keyed by the md5 fingerprint: state is one
    tiny row per distinct text (canonical doc_id + seen count), so the
    state store scales with DISTINCT content, not stream volume — at
    production scale the key space is hash-partitioned across executors'
    RocksDB state stores.  Fingerprints never expire (exact semantics).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    from pyspark.sql import types as T

    from homonim_spark.operators.textops import fingerprint

    out_schema = T.StructType([
        T.StructField("doc_id", T.StringType()),
        T.StructField("fingerprint", T.StringType()),
        T.StructField("n_dupes_so_far", T.LongType()),
    ])
    state_schema = T.StructType([
        T.StructField("canonical", T.StringType()),
        T.StructField("n_seen", T.LongType()),
    ])

    def update(key, pdfs, state: GroupState):
        (fp,) = key
        canonical, n_seen = (state.get if state.exists else (None, 0))
        was_new = canonical is None
        # min(doc_id) must be taken over ALL pandas chunks of the group —
        # applyInPandasWithState splits a big group at
        # arrow.maxRecordsPerBatch, so fixing the canonical at the first
        # chunk's first row would ignore a smaller doc_id arriving in a
        # later chunk and break the documented min(doc_id) semantics.
        batch_min = None
        for pdf in pdfs:
            if len(pdf):
                m = pdf["doc_id"].min()
                batch_min = m if batch_min is None else min(batch_min, m)
                n_seen += len(pdf)
        if was_new and batch_min is not None:
            canonical = batch_min
        state.update((canonical, n_seen))
        rows = ([(canonical, fp, 0)]
                if was_new and canonical is not None else [])
        yield pd.DataFrame(rows, columns=["doc_id", "fingerprint",
                                          "n_dupes_so_far"])

    # NULL-text docs are excluded (not coalesced into the empty-string
    # group), matching the batch ``_collapse_exact`` rule and the DuckDB
    # oracle's WHERE text IS NOT NULL: merging them with genuinely-empty
    # docs would invent duplicates across semantically different rows.
    keyed = doc_stream.select(
        "doc_id",
        fingerprint(F.col("text")).alias("fingerprint"),
    ).filter(F.col("fingerprint").isNotNull())
    return keyed.groupBy("fingerprint").applyInPandasWithState(
        update, outputStructType=out_schema, stateStructType=state_schema,
        outputMode="append",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
