"""Structured Streaming replacement for the reference's micro-batch daemons.

The reference "streams" by hand (SURVEY §2.10): two daemons poll a shared
directory every 60 s (conte-etl-step-2-processor.py:54, 1876-1990;
conte-etl-step-2-manager.py:39, 793-856), hand off work through
``YYYY-MM.{ready,processing,complete,failed}`` signal files
(utils/ready_signal_creator.py:15-21), and track processed inputs in JSON
checkpoints (conte-etl-step-2-manager.py:61-149).

Under Structured Streaming every one of those mechanisms maps to an
engine primitive:

  reference mechanism                      Spark primitive
  ---------------------------------------- ---------------------------
  60 s directory polling                   file source + ProcessingTime
                                           trigger (or AvailableNow for
                                           drain-then-stop batches)
  ready/processing/complete signal files   checkpoint + exactly-once
                                           file-sink commit log
  processed-set JSON bookkeeping           checkpoint offset tracking
  retry w/ exponential backoff             query restart from checkpoint
  dedup-on-append                          idempotent file-sink commits

The step-2 dataflow itself (join + pivot + projection) is stateless, so
the SAME ``process_month`` plan runs unchanged on a streaming ts source —
a stream-static broadcast join.  Spark adds what the reference cannot do:
event-time windows with watermarked late-data handling
(``windowed_event_rates``).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.streaming import StreamingQuery

from conte_to_fresco_etl_spark.operators.join import process_month
from conte_to_fresco_etl_spark.schemas import FRESCO_TS_SCHEMA


def stream_eav_source(
    spark: SparkSession,
    path: str,
    max_files_per_trigger: int | None = None,
) -> DataFrame:
    """Streaming FRESCO EAV source: new parquet files under ``path``
    become micro-batches (replaces the processor's 60 s poll loop +
    filename bookkeeping).  ``max_files_per_trigger`` bounds batch size
    the way the manager's 1M-row chunking did."""
    reader = spark.readStream.schema(FRESCO_TS_SCHEMA)
    if max_files_per_trigger is not None:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    return reader.parquet(path)


def stream_set3(ts_stream: DataFrame, jobs: DataFrame) -> DataFrame:
    """Streaming step-2: the batch ``process_month`` plan applied to a
    streaming ts source.  Stream-static inner join: the accounting side
    is static (re-read per micro-batch) and broadcast, so the streaming
    side never shuffles — identical physical shape to the batch plan."""
    return process_month(ts_stream, jobs)


def start_set3_stream(
    ts_stream: DataFrame,
    jobs: DataFrame,
    out_path: str,
    checkpoint_path: str,
    available_now: bool = True,
    processing_time: str = "60 seconds",
) -> StreamingQuery:
    """Start the streaming set3 sink.

    ``available_now=True`` drains everything currently on disk and stops
    — the idempotent replacement for one manager/processor cycle.  With
    ``available_now=False`` the query keeps running at
    ``processing_time`` cadence (the reference's 60 s poll, minus the
    signal files: the checkpoint + file-sink commit log carry the
    exactly-once contract)."""
    writer = (
        stream_set3(ts_stream, jobs)
        .withColumn("d", F.date_format("time", "yyyy-MM-dd"))
        .writeStream.format("parquet")
        .option("path", out_path)
        .option("checkpointLocation", checkpoint_path)
        .partitionBy("d")
        .outputMode("append")
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    else:
        writer = writer.trigger(processingTime=processing_time)
    return writer.start()


def stream_dedup(
    ts_stream: DataFrame,
    keys: list[str] | None = None,
    event_time_col: str = "Timestamp",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Streaming duplicate suppression — the engine-native form of the
    reference's dedup-on-append (S7, transform_conte_ts_data.py:1043).

    ``dropDuplicatesWithinWatermark`` keys state to the dedup columns
    and expires it once the watermark passes, so state stays bounded
    where the reference re-read and rewrote whole monthly CSVs.  Default
    keys: all columns (full-row dedup, matching drop_duplicates())."""
    keys = keys or ts_stream.columns
    return ts_stream.withWatermark(
        event_time_col, watermark_delay
    ).dropDuplicatesWithinWatermark(keys)


def windowed_event_rates(
    ts_stream: DataFrame,
    window_duration: str = "1 hour",
    watermark_delay: str = "2 hours",
) -> DataFrame:
    """Watermarked per-(Event, window) aggregate — mean/min/max/count of
    ``Value``.  The streaming-native capability the reference lacks: its
    late-data story is "dedup on append" (SURVEY §2.10); here late rows
    within ``watermark_delay`` merge into their event-time window and
    older ones are dropped, with state bounded by the watermark."""
    return (
        ts_stream.withWatermark("Timestamp", watermark_delay)
        .groupBy(
            F.window("Timestamp", window_duration).alias("w"),
            F.col("Event"),
        )
        .agg(
            F.count("*").alias("n"),
            F.avg("Value").alias("avg_value"),
            F.min("Value").alias("min_value"),
            F.max("Value").alias("max_value"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            F.col("w.end").alias("window_end"),
            "Event",
            "n",
            "avg_value",
            "min_value",
            "max_value",
        )
    )


def stream_stream_attribution_join(
    clicks: DataFrame,
    purchases: DataFrame,
    key: str = "user_id",
    ts_col: str = "ts",
    within: str = "30 minutes",
    watermark_delay: str = "1 hour",
    how: str = "inner",
) -> DataFrame:
    """Watermarked stream-stream interval join — attribution shape:
    every (click, purchase) pair of the same key where the purchase
    lands in [click_ts, click_ts + within].

    This is the streaming capability the reference's poll-loop
    architecture cannot express at all: BOTH sides are unbounded, and
    correctness needs buffering.  Spark's state store holds each side's
    rows until the other side's watermark proves no more matches can
    arrive; the time-range join condition is what lets the engine
    compute that bound, so state is O(rows within the watermark
    horizon), never unbounded.

    Scale posture: one shuffle per side on the key; state cleanup is
    driven by the watermark, so the join runs indefinitely at constant
    memory per key-second of traffic.  ``how="leftOuter"`` emits
    unconverted clicks (with null purchase columns) once their window
    expires — the streaming form of the left-join conversion funnel.
    """
    c = clicks.withWatermark(ts_col, watermark_delay).alias("c")
    p = purchases.withWatermark(ts_col, watermark_delay).alias("p")
    cond = (
        (F.col(f"c.{key}") == F.col(f"p.{key}"))
        & (F.col(f"p.{ts_col}") >= F.col(f"c.{ts_col}"))
        & (
            F.col(f"p.{ts_col}")
            <= F.col(f"c.{ts_col}") + F.expr(f"INTERVAL {within}")
        )
    )
    return c.join(p, cond, how).select(
        F.col(f"c.{key}").alias(key),
        F.col(f"c.{ts_col}").alias("click_ts"),
        F.col("c.click_id"),
        F.col(f"p.{ts_col}").alias("purchase_ts"),
        F.col("p.purchase_id"),
        F.col("p.amount"),
    )


def start_continuous_rollup(
    events_stream: DataFrame,
    out_path: str,
    checkpoint_path: str,
    ts_col: str = "ts",
    key_col: str = "event_type",
    value_col: str = "value",
    watermark_delay: str = "2 hours",
) -> StreamingQuery:
    """Continuous-aggregate maintainer: the streaming twin of
    ``operators/rollup.py:time_rollup``.  A watermarked per-(key, hour)
    aggregate runs in UPDATE mode (state evicted once the watermark
    passes a window — bounded, unlike complete mode), and
    ``foreachBatch`` merges each micro-batch's changed rows into the
    parquet rollup: for every day partition the batch touches, keep the
    existing rows whose (bucket_hour, key) is NOT superseded, union the
    new values, and dynamically overwrite just those partitions.
    Replaying a failed batch rewrites the same partitions to the same
    contents — idempotent exactly-once at the output level, the
    engine's standing sink contract.  Each start drains what the source
    holds and stops (``availableNow``); the next start resumes from the
    checkpoint.

    Scale posture: state is bounded by the watermark; each micro-batch
    reads+rewrites only the day partitions it touched, so maintenance
    cost tracks arrival rate, not table size."""
    agg = (
        events_stream.withWatermark(ts_col, watermark_delay)
        .groupBy(
            F.window(ts_col, "1 hour").alias("w"),
            F.col(key_col),
        )
        .agg(
            F.count("*").alias("n"),
            F.sum(F.col(value_col).cast("decimal(18,4)"))
            .cast("double")
            .alias("sum_value"),
        )
        .select(
            F.col("w.start").alias("bucket_hour"),
            F.col(key_col),
            "n",
            "sum_value",
        )
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        spark = batch_df.sparkSession
        fresh = batch_df.withColumn(
            "d", F.date_format("bucket_hour", "yyyy-MM-dd")
        ).persist()
        days = [r["d"] for r in fresh.select("d").distinct().collect()]
        if not days:
            fresh.unpersist()
            return
        from pyspark.errors import AnalysisException

        try:
            existing = (
                spark.read.parquet(out_path)
                .withColumn("d", F.date_format("bucket_hour", "yyyy-MM-dd"))
                .filter(F.col("d").isin(days))
            )
            keep = existing.join(
                fresh.select("bucket_hour", key_col),
                ["bucket_hour", key_col],
                "left_anti",
            )
            merged = keep.unionByName(fresh)
        except AnalysisException:  # first batch: no table to merge yet
            merged = fresh
        # Materialize BEFORE overwriting: `merged` lazily READS out_path
        # while the write REPLACES the same day partitions — without
        # this barrier a task retry mid-commit could re-read a partition
        # the committer already swapped, losing non-superseded rows.
        # persist + count pins the snapshot (MEMORY_AND_DISK — spilled,
        # never evicted) and, unlike a per-batch localCheckpoint, is
        # released DETERMINISTICALLY below instead of leaking one block
        # set per micro-batch for the stream's lifetime.  (Exactly-once
        # at the output level additionally assumes an atomic rename
        # committer — the local/HDFS FileOutputCommitter contract; on
        # direct-write object stores use a transactional table format
        # instead.)
        merged = merged.persist()
        merged.count()
        try:
            (
                merged.repartition("d")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("d")
                .parquet(out_path)
            )
        finally:
            merged.unpersist()
            fresh.unpersist()

    return (
        agg.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )


def start_scd2_maintainer(
    events_stream: DataFrame,
    log_path: str,
    table_path: str,
    checkpoint_path: str,
    key_col: str = "user_id",
    ts_col: str = "ts",
    attr_cols: list[str] | None = None,
    tiebreak_col: str = "event_id",
    n_buckets: int = 16,
) -> StreamingQuery:
    """Streaming maintainer for the SCD2 interval table
    (``operators/scd.py:scd2_intervals``): each micro-batch appends its
    raw events to a key-bucketed change log, then REBUILDS the interval
    table for only the buckets the batch touched.

    Rebuilding from the full per-bucket history (not merging intervals
    incrementally) is what makes LATE data exact: an out-of-order event
    that splits a previously collapsed run reproduces the batch
    operator's answer, because the batch operator is literally re-run
    over that key's history.  An interval-merge shortcut cannot do
    that — collapsed runs have forgotten the events inside them.

    Idempotence: a replayed batch appends duplicate log rows, but the
    rebuild deduplicates on (key, tiebreak) before collapsing, so the
    TABLE converges to the same contents; the bucket overwrite is
    dynamic-partition, so replays rewrite the same partitions.  Each
    start drains what the source holds and stops (``availableNow``);
    the next start resumes from the checkpoint.

    Scale posture: maintenance cost tracks the touched buckets' history
    size, not the table size — choose n_buckets so one bucket's history
    fits a task comfortably (the same sizing rule as any bucketed
    table).  The log is append-only day-one raw data a warehouse keeps
    anyway; compacting a bucket is a plain batch rewrite of its
    partition.
    """
    attrs = attr_cols or ["event_type"]
    bucket = F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)).alias(
        "__bucket"
    )

    def upsert(batch_df: DataFrame, batch_id: int) -> None:
        from conte_to_fresco_etl_spark.operators.scd import scd2_intervals

        spark = batch_df.sparkSession
        fresh = batch_df.select(
            key_col, ts_col, tiebreak_col, *attrs, bucket
        ).persist()
        touched = [r["__bucket"] for r in fresh.select("__bucket").distinct().collect()]
        if not touched:
            fresh.unpersist()
            return
        try:
            fresh.write.mode("append").partitionBy("__bucket").parquet(
                log_path
            )
            history = (
                spark.read.parquet(log_path)
                .filter(F.col("__bucket").isin(touched))
                .dropDuplicates([key_col, tiebreak_col])
            )
            rebuilt = scd2_intervals(
                history,
                key_col=key_col,
                ts_col=ts_col,
                attr_cols=attrs,
                tiebreak_col=tiebreak_col,
            ).withColumn(
                "__bucket",
                F.pmod(F.xxhash64(F.col(key_col)), F.lit(n_buckets)),
            )
            # materialize before the overwrite: rebuilt lazily reads
            # log_path, which the append above already committed, but
            # the TABLE path being replaced is not an input — only the
            # log is read, so no read-vs-write barrier is needed here
            (
                rebuilt.repartition("__bucket")
                .write.mode("overwrite")
                .option("partitionOverwriteMode", "dynamic")
                .partitionBy("__bucket")
                .parquet(table_path)
            )
        finally:
            fresh.unpersist(blocking=False)

    return (
        events_stream.writeStream.foreachBatch(upsert)
        .option("checkpointLocation", checkpoint_path)
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )


