"""Streaming ingest + windowed aggregation over the ``events`` table shape
(event_id, ts, user_id, event_type, value, props).

Batch/stream parity by construction: the same transformation function is
applied to a batch DataFrame and a ``readStream`` DataFrame; tests assert the
``availableNow`` streaming result equals the batch result (the streaming
analog of the DuckDB oracle).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

EVENT_SCHEMA = ("event_id long, ts timestamp, user_id long, event_type string, "
                "value double, props string")


def read_event_stream(spark: SparkSession, path: str, max_files: int = 4) -> DataFrame:
    return (
        spark.readStream.schema(EVENT_SCHEMA)
        .option("maxFilesPerTrigger", max_files)
        .parquet(path)
    )


def windowed_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Tumbling-window counts + exact-decimal value sums per event type.
    On a stream the watermark bounds state for late data; on a batch frame
    the same expression is a plain groupBy."""
    df = events
    if df.isStreaming:
        df = df.withWatermark("ts", watermark)
    return (
        df.groupBy(F.window("ts", window).alias("w"), F.col("event_type"))
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col("value").cast("decimal(18,2)")).cast("double").alias("value_sum"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("event_type"), F.col("n"), F.col("value_sum"),
        )
    )


def sessionize(events: DataFrame, gap_minutes: int = 30,
               order_cols: list[str] | None = None) -> DataFrame:
    """Per-user session ids: a new session starts when the gap since the
    previous event exceeds ``gap_minutes`` (batch formulation via window
    functions; the streaming formulation would use a session window).
    ``order_cols`` must be a total order for determinism under ts ties."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy(*(order_cols or ["ts"]))
    gap = F.unix_timestamp("ts") - F.unix_timestamp(F.lag("ts").over(w))
    new_sess = F.when(gap.isNull() | (gap > gap_minutes * 60), 1).otherwise(0)
    return events.withColumn(
        "session_id",
        F.sum(new_sess).over(w.rowsBetween(Window.unboundedPreceding, 0)),
    )


def run_stream_to_memory(spark: SparkSession, src_path: str, name: str,
                         window: str = "1 hour") -> DataFrame:
    """availableNow one-shot: drain the source, materialize to a memory sink,
    return the result table (test/verification harness)."""
    q = (
        windowed_counts(read_event_stream(spark, src_path), window)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# --------------------------------------------------------------- pages stream


def stream_pages_to_tile_counts(spark: SparkSession, src_path: str,
                                schema: str | None = None) -> DataFrame:
    """The flagship pipeline on a stream: pages parquet source -> geocode
    (pure-column fast path, streaming-safe) -> tile assignment -> running
    per-tile counts. Complete-mode aggregation (tile cardinality is small);
    at scale this is the incremental-refresh path for tile manifests."""
    from ..operators.tile_grid import tile_assign_cols
    from ..sources.pages import geocode

    schema = schema or ("doc_id long, url string, warc_ts timestamp, "
                        "html binary, text string, lang string")
    pages = spark.readStream.schema(schema).parquet(src_path)
    geo = geocode(pages)  # no UDF: streaming-compatible column expressions
    row, col, name = tile_assign_cols(
        F.col("lon"), F.col("lat"), -180.0, -90.0, 180.0, 90.0, 10.0, 10.0, "world"
    )
    return (
        geo.select(name)
        .groupBy("tile_name")
        .agg(F.count("*").alias("n_pages"))
    )


def run_pages_stream_to_memory(spark: SparkSession, src_path: str,
                               name: str) -> DataFrame:
    q = (
        stream_pages_to_tile_counts(spark, src_path)
        .writeStream.format("memory").queryName(name)
        .outputMode("complete")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


# --------------------------------------------------------------- stream dedup


def stream_exact_dedup(events: DataFrame, key_cols: list[str],
                       watermark: str = "1 hour",
                       ts_col: str = "ts") -> DataFrame:
    """Exact dedup on ingest — the training-pipeline scenario where a crawl
    segment is replayed (re-queued WARC batch, at-least-once source) and
    later copies must be dropped exactly once, across micro-batch
    boundaries.  Streaming: ``dropDuplicatesWithinWatermark`` — per-key
    state is EVICTED once the watermark passes a key's event time, so state
    is bounded by the duplicate-arrival horizon (the at-least-once window
    of the source), not by stream length; duplicates arriving within
    ``watermark`` of the first copy are guaranteed dropped.  Batch: plain
    ``dropDuplicates`` — the same transformation function in both regimes,
    the module's parity-by-construction pattern."""
    if events.isStreaming:
        return (events.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(key_cols))
    return events.dropDuplicates(key_cols)


def run_dedup_stream_to_memory(spark: SparkSession, src_path: str,
                               schema: str, name: str, key_cols: list[str],
                               watermark: str = "1 hour",
                               max_files: int = 1) -> DataFrame:
    """availableNow drain of a dedup stream (append mode — dropDuplicates
    emits each survivor exactly once)."""
    src = (spark.readStream.schema(schema)
           .option("maxFilesPerTrigger", max_files).parquet(src_path))
    q = (
        stream_exact_dedup(src, key_cols, watermark)
        .writeStream.format("memory").queryName(name)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(300)
    return spark.table(name)


def stream_interval_join(views: DataFrame, clicks: DataFrame,
                         key: str = "user_id",
                         interval: str = "2 hours",
                         watermark: str = "90 days") -> DataFrame:
    """Stream-stream INNER interval join: each view row matches click
    rows of the same ``key`` whose ts falls in [view.ts, view.ts +
    interval]. On streams this is the Structured Streaming state-store
    join — both sides buffer keyed state, the watermark + time-range
    condition bound it, and matches emit in append mode as soon as both
    rows have arrived (cross-micro-batch matches come OUT OF STATE, not
    from co-arrival). On batch frames the identical expression is a
    plain interval join, which is the parity oracle.

    ``watermark`` is deliberately larger than the fixture's full time
    span so no row is ever late-dropped and the drained stream equals
    the batch join exactly; production callers shrink it to bound state.
    """
    v = views.select(F.col("event_id").alias("view_id"),
                     F.col(key).alias("v_key"),
                     F.col("ts").alias("v_ts")).withWatermark("v_ts", watermark)
    c = clicks.select(F.col("event_id").alias("click_id"),
                      F.col(key).alias("c_key"),
                      F.col("ts").alias("c_ts")).withWatermark("c_ts", watermark)
    cond = (
        (F.col("v_key") == F.col("c_key"))
        & (F.col("c_ts") >= F.col("v_ts"))
        & (F.col("c_ts") <= F.col("v_ts") + F.expr(f"interval {interval}"))
    )
    return v.join(c, cond).select("view_id", "click_id")


def run_interval_join_to_memory(spark: SparkSession, views_path: str,
                                clicks_path: str, name: str,
                                interval: str = "2 hours",
                                max_files: int = 1) -> DataFrame:
    """availableNow two-sided drain: with ``max_files=1`` and multiple
    files per source the join necessarily crosses micro-batches."""
    v = read_event_stream(spark, views_path, max_files)
    c = read_event_stream(spark, clicks_path, max_files)
    old = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        q = (stream_interval_join(v, c, interval=interval)
             .writeStream.format("memory").queryName(name)
             .outputMode("append").trigger(availableNow=True).start())
        if not q.awaitTermination(300):
            q.stop()
            raise TimeoutError(
                f"interval-join stream {name!r} did not drain in 300 s")
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old)
    return spark.table(name)


def run_foreach_upsert(spark: SparkSession, src_path: str,
                       state_dir: str, checkpoint: str,
                       schema: str = "key long, version int, sig string",
                       ) -> None:
    """foreachBatch exactly-once-style keyed upsert — the sink shape a
    streaming MERGE INTO uses: each micro-batch folds into a keyed
    state table with latest-version-wins, written via a staging dir +
    atomic rename so a crash mid-write never exposes partial state.

    The merge is IDEMPOTENT (state ∪ batch re-resolved by max version),
    which is what turns Structured Streaming's at-least-once foreachBatch
    delivery into effective exactly-once: replaying a batch after a
    failure reproduces the identical state. ``q_stream_upsert`` replays
    the final batch explicitly and asserts the state hash is unchanged.

    Scale shape: per batch one (key) groupBy over state∪batch; at real
    scale state lives in Iceberg and the fold is MERGE INTO — the
    resolution semantics here are identical (see q_merge_upsert).
    """
    import os
    import shutil

    from pyspark.sql import functions as F

    def merge_batch(batch_df, batch_id: int) -> None:
        apply_upsert_batch(spark, batch_df, state_dir)

    (spark.readStream.schema(schema)
     .option("maxFilesPerTrigger", 1).parquet(src_path)
     .writeStream.foreachBatch(merge_batch)
     .option("checkpointLocation", checkpoint)
     .trigger(availableNow=True).start().awaitTermination())


def apply_upsert_batch(spark: SparkSession, batch_df: DataFrame,
                       state_dir: str) -> None:
    """One idempotent latest-wins fold of ``batch_df`` into the keyed
    parquet state (staging + atomic swap)."""
    import os
    import shutil

    from pyspark.sql import functions as F

    if os.path.isfile(os.path.join(state_dir, "_SUCCESS")):
        cur = spark.read.parquet(state_dir)
    else:
        cur = spark.createDataFrame([], batch_df.schema)
    merged = (cur.unionByName(batch_df)
              .groupBy("key")
              .agg(F.max(F.struct("version", "sig")).alias("m"))
              .select("key", F.col("m.version").alias("version"),
                      F.col("m.sig").alias("sig")))
    staging = state_dir + ".staging"
    merged.write.mode("overwrite").parquet(staging)
    old = state_dir + ".old"
    shutil.rmtree(old, ignore_errors=True)
    if os.path.isdir(state_dir):
        os.rename(state_dir, old)
    os.rename(staging, state_dir)
    shutil.rmtree(old, ignore_errors=True)
