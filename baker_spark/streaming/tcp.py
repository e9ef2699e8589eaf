"""TCP gzip input — the reference's wire-format daemon source
(/root/reference/input/tcp.go): a listener (default ``:6000``) where
each accepted connection carries ONE gzip stream of newline-separated
records (tcp.go:146-149 wraps the conn in a gzip reader). The reader
chunks the decompressed stream (128 KiB) and only ever hands over
complete lines — a chunk is extended to the next newline so no record
is split (tcp.go:162-207).

Spark-first split: a driver-side listener feeds a Spark file source.
(The SQS input needs no spool: its notified files already exist, so
the ``bakersqs`` source journals their paths and reads them directly.)

- :class:`TCPGzipListener` is a small driver-side accept loop that
  spools each connection's stream as files (written atomically: temp
  name, then rename) into a spool directory
- Structured Streaming's file source
  (:class:`~baker_spark.streaming.daemon.FileStreamSource`) ingests the
  spool — micro-batch scheduling, exactly-once file tracking and
  checkpoint recovery come from Spark, not hand-rolled code
- :class:`TCPFileSource` is the compiled form of a TOML
  ``[input] name="TCP"`` section with a ``SpoolDir``: the file stream
  plus a ``listener()`` factory bound to the same spool

The listener gzip-decodes on the driver and spools complete-line
chunks (the reference's semantics, tcp.go:146-210), so data is visible
incrementally while a long-lived connection streams, and a torn stream
keeps the chunks decoded before the tear. The ceiling is the driver's
single-process inflate rate (~270 MB/s of decompressed output per
accept thread, PERFORMANCE.md "TCP ingest envelope") — fine for the
dev-tool/relay role this input plays in the reference.
"""

from __future__ import annotations

import gzip
import os
import socket
import socketserver
import threading
import zlib
from dataclasses import dataclass

from baker_spark.streaming.daemon import FileStreamSource

#: tcp.go:31-37: chunk size for decompressed reads; lines longer than the
#: chunk still work (the rfind loop below just keeps buffering).
TCP_CHUNK_BUFFER = 128 * 1024


class TCPGzipListener:
    """Accept loop mirroring TCP.Run/handleStream: one gzip stream per
    connection, decompressed and re-chunked on line boundaries into
    spool files. Bind ``port=0`` for an ephemeral port (tests)."""

    def __init__(
        self,
        spool_dir: str,
        host: str = "127.0.0.1",
        port: int = 6000,
        chunk_bytes: int = TCP_CHUNK_BUFFER,
    ):
        self.spool_dir = spool_dir
        self.host, self.port = host, port
        self.chunk_bytes = chunk_bytes
        self.connections = 0
        self.num_lines = 0  # InputStats analog (tcp.go:126-131)
        self.errors: list[str] = []  # per-connection failures (log-and-continue)
        # resume the spool counter past any files a PREVIOUS run left:
        # restarting at 1 would os.rename() onto tcp-00000001.csv — if
        # the file source already ingested that path the new chunk is
        # never read (seen paths are never reprocessed), and if it had
        # not, the old contents are overwritten. Either way: data loss.
        self._seq = self._max_existing_seq(spool_dir)
        self._lock = threading.Lock()
        self._server: socketserver.ThreadingTCPServer | None = None
        self._thread: threading.Thread | None = None
        os.makedirs(spool_dir, exist_ok=True)

    @staticmethod
    def _max_existing_seq(spool_dir: str) -> int:
        import re

        top = 0
        try:
            for name in os.listdir(spool_dir):
                # {8,}, not {8}: f"{seq:08d}" widens past 99,999,999,
                # and a resume that can't SEE 9-digit spools would
                # restart the counter and rename onto published names —
                # the exact loss this scan exists to prevent. (\.gz)?:
                # spools of the removed raw-gzip mode still count
                m = re.fullmatch(r"tcp-(\d{8,})\.csv(\.gz)?", name)
                if m:
                    top = max(top, int(m.group(1)))
        except FileNotFoundError:
            pass
        return top

    # ---------------------------------------------------------- spooling

    def _emit(self, chunk: bytes) -> None:
        """Write one complete-lines chunk atomically (tmp + rename) so
        the streaming file source never lists a half-written file."""
        if not chunk:
            return
        with self._lock:
            self._seq += 1
            seq = self._seq
            # counter shares the lock: concurrent connections would lose
            # read-modify-write increments otherwise
            self.num_lines += chunk.count(b"\n")
        final = os.path.join(self.spool_dir, f"tcp-{seq:08d}.csv")
        tmp = os.path.join(self.spool_dir, f".tcp-{seq:08d}.csv.tmp")
        with open(tmp, "wb") as fh:
            fh.write(chunk)
        os.rename(tmp, final)

    def _handle_stream(self, rfile) -> None:
        """tcp.go:146-210: gzip-decode, chunk, and never split a line —
        a chunk is cut at its last newline, the tail carries over."""
        gz = gzip.GzipFile(fileobj=rfile)
        pending = b""
        while True:
            data = gz.read(self.chunk_bytes)
            if not data:
                break
            pending += data
            cut = pending.rfind(b"\n")
            if cut >= 0:
                self._emit(pending[: cut + 1])
                pending = pending[cut + 1 :]
        if pending:  # final unterminated line: sent as-is, like the EOF path
            self._emit(pending + b"\n")

    # ------------------------------------------------------- server loop

    def start(self) -> tuple[str, int]:
        listener = self

        class Handler(socketserver.StreamRequestHandler):
            def handle(self):
                with listener._lock:
                    listener.connections += 1
                try:
                    listener._handle_stream(self.rfile)
                # tcp.go:110-112 logs stream errors and keeps serving.
                # BadGzipFile is an OSError but a TRUNCATED gzip body
                # raises EOFError and corrupt deflate data zlib.error —
                # a torn connection must also land in errors, not kill
                # the handler thread with an unlogged traceback
                except (OSError, EOFError, zlib.error) as exc:
                    listener.errors.append(str(exc))

        class Server(socketserver.ThreadingTCPServer):
            # on the subclass, NOT the stdlib class: mutating
            # ThreadingTCPServer.allow_reuse_address would leak the
            # setting into every other TCP server in the process
            allow_reuse_address = True

        self._server = Server((self.host, self.port), Handler)
        self.host, self.port = self._server.server_address
        self._thread = threading.Thread(target=self._server.serve_forever, daemon=True)
        self._thread.start()
        return self.host, self.port

    def stop(self) -> None:
        if self._server:
            self._server.shutdown()
            self._server.server_close()
        if self._thread:
            self._thread.join(timeout=5)

    def __enter__(self):
        self.start()
        return self

    def __exit__(self, *exc):
        self.stop()


def send_gzip_records(host: str, port: int, payload: bytes) -> None:
    """Test/client helper: one connection, one gzip stream — the
    reference's wire format (what a baker TCP producer emits)."""
    with socket.create_connection((host, port)) as conn:
        conn.sendall(gzip.compress(payload))
        conn.shutdown(socket.SHUT_WR)


@dataclass
class TCPFileSource(FileStreamSource):
    """Compiled ``[input] name="TCP"``: the spool-backed file stream plus
    the listener factory bound to the same directory. Start the listener
    on the driver, then the streaming query:

        src.listener().start()                      # driver thread
        StreamingPipeline(source=src, ...).start(...)
    """

    listen_host: str = "127.0.0.1"
    listen_port: int = 6000

    def dataframe(self, spark):
        # the listener makes the spool too; making it here lets a
        # topology build (explain, start) before the first connection
        os.makedirs(self.path, exist_ok=True)
        return super().dataframe(spark)

    __call__ = dataframe

    def listener(self) -> TCPGzipListener:
        return TCPGzipListener(
            self.path,
            host=self.listen_host,
            port=self.listen_port,
        )
