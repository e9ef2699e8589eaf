"""Queue connectors for the reference's Kinesis and KCL daemon inputs
(SURVEY.md §2.1).

Kinesis and KCL read through the jar-free ``bakerkinesis`` Python data
source (streaming/kinesis_datasource.py), which emits the
``aws-kinesis`` connector's column layout; :func:`kinesis_records`
parses that layout into record columns.
"""

from __future__ import annotations

import re
from dataclasses import dataclass, field

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.types import (
    BinaryType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

from baker_spark.sources.list_source import split_fields

#: The column layout the spark-sql-kinesis connector emits — one row per
#: Kinesis record. The reference consumes the same record stream through
#: GetRecords and uses only the payload bytes (input/kinesis.go:145-150:
#: `d.Data` may hold MANY newline-separated log lines); partitionKey /
#: sequenceNumber / approximateArrivalTimestamp are per-record metadata
#: the reference discards and Spark exposes.
KINESIS_RECORD_SCHEMA = StructType(
    [
        StructField("data", BinaryType()),
        StructField("streamName", StringType()),
        StructField("partitionKey", StringType()),
        StructField("sequenceNumber", StringType()),
        StructField("approximateArrivalTimestamp", TimestampType()),
    ]
)


def kinesis_records(
    df: DataFrame,
    fields: list[str],
    separator: str = ",",
    arrival_ts: str | None = None,
) -> DataFrame:
    """Connector layout -> record columns, the analog of the reference's
    parse loop over GetRecords payloads (input/kinesis.go:145-150): each
    ``data`` blob is split on newlines (one blob may carry many log
    lines, trailing newline tolerated), then each line is split
    with :func:`~baker_spark.sources.list_source.split_fields`, baker's
    no-quoting LogLine rules (logline.go:21-31). Works identically on
    any source emitting :data:`KINESIS_RECORD_SCHEMA` — batch or
    streaming, all JVM-side expressions.

    ``arrival_ts`` optionally carries ``approximateArrivalTimestamp``
    through under that name — the event-time column a watermarked
    aggregation downstream would key on (a capability the reference's
    arrival-order loop lacks)."""
    # explode THEN filter empties: both stay inside whole-stage codegen,
    # where a higher-order array filter would run interpreted in the hot
    # parse path (see PERFORMANCE.md "Codegen vs interpreted")
    lines = F.explode(F.split(F.decode(F.col("data"), "UTF-8"), "\n", -1)).alias("_bk_line")
    keep = [F.col("approximateArrivalTimestamp").alias(arrival_ts)] if arrival_ts else []
    cols = split_fields(F.col("_bk_line"), fields, separator)
    return (
        df.select(lines, *keep)
        .filter(F.col("_bk_line") != "")
        .select(*cols, *[F.col(c) for c in ([arrival_ts] if arrival_ts else [])])
    )


@dataclass
class KinesisPythonSource:
    """The Kinesis input: ``readStream.format("bakerkinesis")``
    (streaming/kinesis_datasource.py — shard -> partition, sequence
    numbers in the checkpoint WAL, boto3 on executors; the observable
    ``fake_dir`` spool in tests). With ``[fields]`` the records are
    parsed by :func:`kinesis_records` (input/kinesis.go:145-150
    newline-split) into record columns; without, the raw
    :data:`KINESIS_RECORD_SCHEMA` layout is handed through.

    Structured Streaming's checkpointing replaces KCL's DynamoDB lease
    table (input/kcl.go:27-49): resume position comes from the query's
    checkpoint dir, scoped by AppName with :meth:`checkpoint_dir`."""

    #: the stream to read (input/kinesis.go:20-26)
    stream: str
    #: region of the stream
    aws_region: str = "us-west-2"
    #: LATEST or TRIM_HORIZON
    initial_position: str = "LATEST"
    #: scopes the checkpoint dir (KCL's application name)
    app_name: str | None = None
    #: test backdoor: a directory-spool stream client, no AWS
    fake_dir: str | None = None
    #: cap on the records one micro-batch admits; None = no cap
    max_records_per_trigger: int | None = None
    #: KCL-lease-table analog (kcl.go:27-49): a directory where commit()
    #: journals committed per-shard positions, making restart resume
    #: exact even when the committed backlog exceeds one trigger budget
    #: (without it, a TRIM_HORIZON restart re-probes from 0 and is
    #: at-least-once across the probe window). Point it next to the
    #: query checkpoint dir.
    lease_dir: str | None = None
    #: static shard ownership (MIGRATION.md's multi-job recipe): a
    #: comma-separated shard-id list restricting this reader to a
    #: DISJOINT subset so several daemons split one stream with
    #: deterministic ownership and separate checkpoints — the
    #: Spark-native replacement for KCL's lease rebalancing.
    shard_filter: str | None = None
    #: the ``[fields]`` names and ``[csv]`` separator records split into
    fields: list[str] = field(default_factory=list)
    separator: str = ","

    def __post_init__(self):
        if not self.stream:
            raise ValueError("Kinesis input needs config Stream (kinesis.go:30)")

    def checkpoint_dir(self, base: str) -> str:
        """AppName-scoped checkpoint location (kcl.go:43 isolation).
        MaxShards/ShardSync/LeaseDuration (kcl.go:44-46) have no knob
        here: Spark's own task scheduling replaces lease balancing."""
        return f"{base.rstrip('/')}/{self.app_name or self.stream}"

    def dataframe(self, spark: SparkSession) -> DataFrame:
        from baker_spark.streaming.kinesis_datasource import register

        register(spark)
        reader = (
            spark.readStream.format("bakerkinesis")
            .option("stream", self.stream)
            .option("aws_region", self.aws_region)
            .option("initial_position", self.initial_position)
        )
        if self.fake_dir:
            reader = reader.option("fake_dir", self.fake_dir)
        if self.max_records_per_trigger:
            reader = reader.option(
                "max_records_per_trigger", str(self.max_records_per_trigger)
            )
        if self.lease_dir:
            reader = reader.option("lease_dir", self.lease_dir)
        if self.shard_filter:
            reader = reader.option("shard_filter", self.shard_filter)
        if not self.fields:
            return reader.load()
        return kinesis_records(reader.load(), self.fields, self.separator)

    __call__ = dataframe


@dataclass
class KCLSource(KinesisPythonSource):
    """The KCL input: the Kinesis input with the KCL config checks
    (input/kcl.go:54-62) — AppName ``[A-Za-z0-9_]+`` is required, and
    InitialPosition is LATEST or TRIM_HORIZON."""

    def __post_init__(self):
        super().__post_init__()
        if not self.app_name or not re.fullmatch(r"[A-Za-z_0-9]+", self.app_name):
            raise ValueError(
                f"invalid 'AppName' {self.app_name!r}, accepts only [A-Za-z0-9_]+"
            )
        if self.initial_position not in ("LATEST", "TRIM_HORIZON"):
            raise ValueError(
                f"invalid 'InitialPosition' {self.initial_position!r}, accepts only "
                "'LATEST' or 'TRIM_HORIZON'"
            )
