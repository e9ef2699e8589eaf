"""Daemon-mode (streaming) topologies.

The reference's daemon inputs never exit: SQS file notifications
(/root/reference/input/sqs.go:25-39), Kinesis shard tailing
(/root/reference/input/kinesis.go:20-26), KCL with lease balancing and
DynamoDB checkpointing (/root/reference/input/kcl.go:27-49), and a TCP
gzip listener (/root/reference/input/tcp.go:20-28).

Structured Streaming replaces all of that machinery:

- SQS and Kinesis/KCL are Python streaming data sources
  (``bakersqs``, streaming/sqs_datasource.py; ``bakerkinesis``,
  streaming/kinesis_datasource.py) whose offsets live in the
  checkpoint's offset WAL
- file-arrival sources (``readStream`` on a directory) ingest the TCP
  listener's spool: new files are discovered and processed once
- KCL's lease table + checkpoints == the streaming checkpoint dir
- graceful SIGINT drain (topology.go:282-314) == ``query.stop()`` +
  checkpoint recovery

A daemon topology is a :class:`~baker_spark.pipeline.Pipeline` whose
source is a stream (:class:`StreamingPipeline`): the batch operator
chain, ``[output]`` sharding, field selection and ``_bk_*`` drop are
built by the same ``Pipeline.dataframe``, because operators are Column
expressions that run identically over micro-batches; sinks plug in
through ``foreachBatch``. A synthetic stream for development is
``spark.readStream.format("rate")`` directly, or
``connectors.KinesisStandinSource`` for the Kinesis record layout.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession, functions as F

from baker_spark.operators.base import Operator
from baker_spark.pipeline import Pipeline
from baker_spark.sources.list_source import string_schema


@dataclass
class FileStreamSource:
    """Tail a directory for newline-record CSV files (the List input's
    daemon form). gzip/zstd decompress by extension, like the batch
    source."""

    path: str
    fields: list[str]
    separator: str = ","
    max_files_per_trigger: int | None = None

    def dataframe(self, spark: SparkSession) -> DataFrame:
        reader = (
            spark.readStream.schema(string_schema(self.fields))
            .option("sep", self.separator)
            .option("quote", "")
            .option("header", "false")
        )
        if self.max_files_per_trigger:
            reader = reader.option("maxFilesPerTrigger", self.max_files_per_trigger)
        return reader.csv(self.path)

    __call__ = dataframe


class StreamingDedup(Operator):
    """Streaming Dedup with a watermark-bounded state store.

    DOCUMENTED DEVIATION from the reference: its dedup set grows without
    bound and eventually OOMs (dedup.go:14-21 says so itself). Here state
    is evicted once ``delay`` older than the event-time watermark — the
    semantics the reference never defined.

    The dedup KEY is ``fields`` alone, like the reference's
    (dedup.go:60 keys on the configured fields): via
    ``dropDuplicatesWithinWatermark``, which is what makes
    fields-only keys legal under a watermark. Plain
    ``dropDuplicates(fields)`` can't evict state without the event-time
    column IN the key — and adding it silently un-dedups the most
    common duplicate of all, an at-least-once redelivery arriving with
    a different timestamp."""

    name = "StreamingDedup"

    def __init__(self, fields: list[str], event_time_col: str, delay: str = "10 minutes"):
        self.fields, self.event_time_col, self.delay = list(fields), event_time_col, delay

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withWatermark(
            self.event_time_col, self.delay
        ).dropDuplicatesWithinWatermark(self.fields)


def windowed_counts(
    df: DataFrame,
    ts_col: str,
    window: str = "5 minutes",
    slide: str | None = None,
    watermark: str = "10 minutes",
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Event-time windowed aggregation with late-data handling — a
    capability the reference lacks entirely (SURVEY.md §2.6: daemon
    inputs process arrival-order only)."""
    w = F.window(F.col(ts_col), window, slide or window)
    keys = [w] + [F.col(c) for c in (group_cols or [])]
    return (
        df.withWatermark(ts_col, watermark)
        .groupBy(*keys)
        .agg(F.count("*").alias("n"), F.approx_count_distinct(ts_col).alias("approx_distinct_ts"))
    )


@dataclass
class StreamingPipeline(Pipeline):
    """Daemon topology: a :class:`Pipeline` whose source is a stream.

    The DataFrame is :meth:`Pipeline.dataframe`'s — the same chain,
    ``sharding``/``procs`` repartition, ``fields`` projection and
    ``_bk_*`` drop as a batch topology (``chain_procs`` is a no-op on a
    stream). ``sink`` (optional) is a *batch* sink object (FileWriter,
    SQLite, DynamoDB, Recorder) applied per micro-batch by :meth:`start`
    — one sink implementation serves one-shot and daemon topologies,
    like the reference's shared output components. ``metrics`` get a
    StreamingQueryListener forwarding each batch's progress
    (stats.go:197-218); ``upload`` runs after each micro-batch's sink
    write (the reference's periodic staging-dir scan,
    upload/s3.go:126-187)."""

    #: FileWriter RotateInterval (filewriter.go:95) — in daemon mode a
    #: time rotation IS the micro-batch cadence, so the TOML value
    #: becomes the default processing-time trigger (float seconds;
    #: sub-second values honored). DOCUMENTED DEVIATION: when unset this
    #: stays None (as-fast-as-possible micro-batches) rather than the
    #: reference's 60s default — a fixed one-minute first-batch latency
    #: would be a surprising default on Spark; set RotateInterval="60s"
    #: for the reference cadence. Explicit start(..., trigger_seconds=)
    #: still wins.
    trigger_seconds: float | None = None

    def start(
        self,
        spark: SparkSession,
        checkpoint_dir: str,
        trigger_seconds: float | None = None,
    ):
        """Run the daemon with the compiled sink (foreachBatch)."""
        if self.sink is None:
            raise ValueError("topology has no [output]; use start_memory for dev")
        return self.start_foreach_batch(
            spark,
            self.sink,
            checkpoint_dir,
            trigger_seconds if trigger_seconds is not None else self.trigger_seconds,
        )

    def start_memory(self, spark: SparkSession, name: str, output_mode: str = "append"):
        """Dev/test sink: results land in the in-memory table ``name``."""
        return (
            self.dataframe(spark)
            .writeStream.format("memory")
            .queryName(name)
            .outputMode(output_mode)
            .start()
        )

    def start_foreach_batch(
        self,
        spark: SparkSession,
        batch_sink,
        checkpoint_dir: str,
        trigger_seconds: float | None = None,
    ):
        """Production path: every micro-batch goes through a *batch* sink
        (FileWriter/SQLite/DynamoDB), so one sink implementation serves
        both modes — mirroring how the reference reuses output components
        across one-shot and daemon topologies.

        File-based sinks must use mode="append": each micro-batch is a
        separate write call, and the batch-default overwrite would clobber
        every batch but the last (see examples/streaming_topology.py)."""

        def handle(batch_df: DataFrame, epoch_id: int) -> None:
            batch_sink.write(batch_df)
            if self.upload is not None:
                # the reference's uploader scans the staging dir
                # periodically (s3.go:126-187); per-batch is that scan
                self.upload.run()
            if getattr(batch_sink, "clear", False):
                # SQLite Clear is a once-at-STARTUP truncate
                # (sqlite.go:40); per-micro-batch re-clearing would
                # leave only the last batch's rows in the table
                batch_sink.clear = False

        if self.metrics is not None and getattr(self, "metrics_listener", None) is None:
            from baker_spark.metrics import StreamingMetrics

            # once per pipeline: re-starts (checkpoint resume) must not
            # stack duplicate listeners on the shared SparkSession;
            # detach with pipeline.metrics_listener.remove(spark)
            self.metrics_listener = StreamingMetrics(self.metrics).add(spark)
        writer = (
            self.dataframe(spark)
            .writeStream.foreachBatch(handle)
            .option("checkpointLocation", checkpoint_dir)
        )
        if trigger_seconds:
            # milliseconds so sub-second RotateIntervals survive intact
            writer = writer.trigger(
                processingTime=f"{int(trigger_seconds * 1000)} milliseconds"
            )
        return writer.start()


def interval_join(
    left: DataFrame,
    right: DataFrame,
    on: str,
    left_ts: str,
    right_ts: str,
    lower_s: int = 0,
    upper_s: int = 300,
    watermark: str = "10 minutes",
) -> DataFrame:
    """Stream-stream interval join: match right-side events that occur
    within [lower_s, upper_s] seconds after the left event, per key.

    Both sides are watermarked so the state store can evict rows once
    they can no longer match — the join condition's time bounds are what
    let Spark compute that eviction horizon (unbounded stream-stream
    joins grow state forever, the same failure mode as the reference's
    dedup set). The reference cannot express this at all (SURVEY.md
    §2.6: no joins between record streams)."""
    lw = left.withWatermark(left_ts, watermark)
    rw = right.withWatermark(right_ts, watermark)
    cond = (
        (lw[on] == rw[on])
        & (rw[right_ts] >= lw[left_ts] + F.expr(f"INTERVAL {lower_s} SECONDS"))
        & (rw[right_ts] <= lw[left_ts] + F.expr(f"INTERVAL {upper_s} SECONDS"))
    )
    return lw.join(rw, cond).drop(rw[on])
