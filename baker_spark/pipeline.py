"""Pipeline — the programmatic topology API.

Mirrors the reference's library embedding path
(/root/reference/bench_test.go:77-116: Components -> NewConfigFromToml ->
NewTopologyFromConfig -> Start/Wait) as a declarative object:

    Pipeline(source=ListSource(...), ops=[...], fields=[...], sink=...)
        .dataframe(spark)   # unexecuted lineage (Catalyst is the IR)
        .run(spark)         # executes the sink action

Thread/channel boundaries of the reference (input -> filter chain ->
sharded outputs, /root/reference/topology.go:230-289) map to Spark's
stage boundaries: read tasks -> narrow transform stage -> optional
repartition (iff sharding) -> write tasks. A daemon topology is the
subclass :class:`baker_spark.streaming.daemon.StreamingPipeline`, whose
source is a stream; it builds its DataFrame through the same
:meth:`Pipeline.dataframe`.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from typing import Any, Callable

from pyspark.sql import DataFrame, SparkSession

from baker_spark.operators.base import Operator, chain
from baker_spark.operators.topology import Shard

SourceLike = Any  # ListSource | DataFrame | Callable[[SparkSession], DataFrame]


@dataclass
class Pipeline:
    source: SourceLike
    ops: list[Operator] = field(default_factory=list)
    fields: list[str] | None = None  # [output] fields=... projection
    sharding: str | None = None  # [output] sharding=... key field
    procs: int = 32  # [output] procs (config.go:205-212 default)
    sink: Any | None = None
    #: [upload] stage — driver-side hook run after the sink completes
    #: (the reference's uploader drains after outputs close,
    #: topology.go:302-314); None for the idiomatic direct-to-s3a write
    upload: Any | None = None
    #: [metrics] client (config.go:106-113 / topology.go:72-82 — built
    #: before everything else, handed to every component); run() brackets
    #: the sink action with the per-second StatsDumper reporting to it
    metrics: Any | None = None
    #: [filterchain] procs (config.go:46-52, default 16): the chain's
    #: parallelism. Spark's unit of parallelism is the partition, so when
    #: the scan yields fewer splits than procs the source is
    #: repartitioned up to it, then the whole chain runs. Catalyst pushes
    #: the chain's deterministic filters below that exchange, so only
    #: surviving rows shuffle, as in the reference, where validation and
    #: drops happen before records fan out to the filter goroutines. On
    #: a multi-split 100 TB input the condition is false and no shuffle
    #: is added.
    chain_procs: int | None = None

    def _source_df(self, spark: SparkSession) -> DataFrame:
        if isinstance(self.source, DataFrame):
            return self.source
        if callable(self.source):
            return self.source(spark)
        raise TypeError(f"unsupported source {type(self.source)}")

    def dataframe(self, spark: SparkSession) -> DataFrame:
        df = self._source_df(spark)
        try:
            # a stream has no fixed split count: chain_procs is a no-op
            n_parts = (
                df.rdd.getNumPartitions()
                if self.chain_procs and not df.isStreaming
                else None
            )
        except Exception:
            # Spark Connect exposes no df.rdd; degrade chain_procs to a
            # no-op like session.fan_out does rather than crash the build
            n_parts = None
        if self.chain_procs and n_parts is not None and n_parts < self.chain_procs:
            df = df.repartition(self.chain_procs)
        df = chain(df, self.ops)
        if self.sharding:
            df = Shard(self.sharding, procs=self.procs).apply(df)
        if self.fields:
            df = df.select(*self.fields)
        else:
            # engine-internal metadata columns never reach the sink
            # (baker's custom fields are invisible to serialize, logline.go:5-18)
            df = df.drop(*[c for c in df.columns if c.startswith("_bk_")])
        return df

    def run(self, spark: SparkSession):
        df = self.dataframe(spark)
        if self.sink is None:
            return df
        if self.metrics is not None:
            from baker_spark.metrics import StatsDumper

            with StatsDumper(spark, self.metrics):
                result = self.sink.write(df)
        else:
            result = self.sink.write(df)
        if self.upload is not None:
            self.upload.run()
        return result

    def close(self) -> None:
        """Release sink-held resources (e.g. the WebSocket broadcast
        server) — the reference's topology Stop() closes outputs after
        the last record (topology.go semantics)."""
        close = getattr(self.sink, "close", None)
        if callable(close):
            close()
