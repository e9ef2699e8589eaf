"""Trivial sinks: Nop (count + discard, /root/reference/output/nop.go),
OpLog (log records, /root/reference/output/oplog.go), Recorder (in-memory
test sink, /root/reference/output/outputtest/recorder.go)."""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, Observation, functions as F


@dataclass
class Nop:
    """Consume and count — Spark ships a real 'noop' write format.

    The count piggybacks on the noop save via ``observe`` so the lineage
    materializes exactly ONCE per write (a separate ``df.count()`` would
    run the whole upstream chain twice)."""

    #: ACCUMULATES across writes (daemon mode calls write per
    #: micro-batch; nop.go counts everything consumed — same convention
    #: as Recorder's records.extend)
    count: int = field(default=0, init=False)

    def write(self, df: DataFrame) -> int:
        obs = Observation()
        df.observe(obs, F.count(F.lit(1)).alias("n")).write.format("noop").mode(
            "overwrite"
        ).save()
        self.count += obs.get["n"]
        return self.count


@dataclass
class OpLog:
    """Print each record to stdout (dev tool)."""

    def write(self, df: DataFrame) -> None:
        df.show(20, truncate=False)


@dataclass
class Recorder:
    """Collect records in memory for assertions (test sink). Appends on
    every write like the reference's outputtest Recorder — under a
    streaming foreachBatch each micro-batch accumulates."""

    records: list = field(default_factory=list, init=False)

    def write(self, df: DataFrame) -> list:
        batch = df.collect()
        self.records.extend(batch)
        return batch


@dataclass
class WebSocketSink:
    """Push selected fields to connected WebSocket clients
    (/root/reference/output/websocket.go:12-77 — a dev tool: the
    reference broadcasts every record to all clients from the process).

    The transport is injected (``send_fn`` receives one JSON line per
    record) so the sink is testable without a server; wire it to
    ``websockets.broadcast`` or any push channel in production. Rows
    stream through ``toLocalIterator`` — one partition at a time on the
    driver, never a full collect — matching the reference's
    record-at-a-time push. In daemon mode pass this sink to
    ``StreamingPipeline.start_foreach_batch``."""

    send_fn: object  # Callable[[str], None]
    fields: list[str] | None = None
    sent: int = 0
    #: optional owned WebSocketBroadcastServer: started lazily on first
    #: write (NOT at plan-compile time — compiling a config must not
    #: bind a port) and stopped by close()
    server: object | None = None

    @classmethod
    def from_config(
        cls,
        output_fields: list[str] | None,
        #: the broadcast server's port (an extension: the reference
        #: hardcodes :8080; 0 binds a free one)
        port: int = 8080,
    ) -> "WebSocketSink":
        """output/websocket.go:12-77: a broadcast server in-process,
        pushing each record's ``[output]`` fields to every client. The
        server is NOT started here: compiling a config must not bind a
        port (compiling one plan twice at :8080 would EADDRINUSE); the
        sink starts it on first write and ``close()`` stops it."""
        from baker_spark.sinks.websocket_server import WebSocketBroadcastServer

        server = WebSocketBroadcastServer(port=int(port))
        return cls(send_fn=server.broadcast, fields=output_fields or None, server=server)

    def write(self, df: DataFrame) -> int:
        import json

        if self.server is not None and not self.server.running:
            self.server.start()
        cols = self.fields or df.columns
        for row in df.select(*cols).toLocalIterator():
            self.send_fn(json.dumps(dict(zip(cols, row)), default=str))
            self.sent += 1
        return self.sent

    def close(self) -> None:
        if self.server is not None and self.server.running:
            self.server.stop()
