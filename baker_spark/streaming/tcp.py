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

Two decode placements (``decode=``, TOML key ``Decode``):

- ``"driver"`` (default — the reference's exact semantics,
  tcp.go:146-210): the listener gzip-decodes on the driver and spools
  complete-line chunks, so data is VISIBLE INCREMENTALLY while a
  long-lived connection streams, and a torn stream keeps its decoded
  prefix. The ceiling is the driver's single-process inflate rate
  (~200 MB/s of compressed input per accept thread, measured in
  PERFORMANCE.md "TCP ingest envelope") — fine for the dev-tool/relay
  role this input plays in the reference, wrong for a firehose.
- ``"executor"`` (the scale path): the listener copies RAW compressed
  bytes to ``tcp-*.csv.gz`` (one file per connection, renamed at
  close) and never inflates — the driver does kernel-speed socket->
  disk copy, and Spark's file source decompresses BY EXTENSION on the
  executors, in parallel across connections. Trade-offs, documented
  rather than hidden: visibility is at connection close (gzip streams
  are not splittable mid-flight), per-connection line counts move from
  the listener to the streaming metrics, and a truncated stream is
  spooled as-is — :class:`TCPFileSource` therefore sets
  ``ignoreCorruptFiles`` on the reader in this mode so executors keep
  the decodable prefix and the query survives, which is exactly the
  reference's torn-connection behavior.
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
        decode: str = "driver",
    ):
        if decode not in ("driver", "executor"):
            raise ValueError(f"decode must be 'driver' or 'executor', got {decode!r}")
        self.spool_dir = spool_dir
        self.host, self.port = host, port
        self.chunk_bytes = chunk_bytes
        self.decode = decode
        self.connections = 0
        self.num_lines = 0  # InputStats analog (tcp.go:126-131); driver mode only
        self.num_bytes = 0  # compressed bytes spooled (executor mode's stat)
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
                # the exact loss this scan exists to prevent
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

    def _handle_stream_raw(self, rfile) -> None:
        """Executor-decode path: copy the connection's compressed bytes
        straight to one ``.csv.gz`` spool file (tmp + rename at close) —
        no inflate on the driver. A stream that doesn't even start with
        the gzip magic is rejected whole (the reference's bad-framing
        log-and-continue); truncation deeper in can't be detected
        without inflating, so the file ships as-is and the reader's
        ``ignoreCorruptFiles`` keeps the decodable prefix."""
        head = rfile.read(2)
        if not head:
            return  # empty connection: nothing to spool
        if head != b"\x1f\x8b":
            self.errors.append("not a gzip stream (bad magic)")
            return
        with self._lock:
            self._seq += 1
            seq = self._seq
        final = os.path.join(self.spool_dir, f"tcp-{seq:08d}.csv.gz")
        tmp = os.path.join(self.spool_dir, f".tcp-{seq:08d}.csv.gz.tmp")
        copied = 0
        try:
            with open(tmp, "wb") as fh:
                fh.write(head)
                copied = 2
                while True:
                    data = rfile.read(self.chunk_bytes)
                    if not data:
                        break
                    fh.write(data)
                    copied += len(data)
        except OSError as exc:
            # torn socket / failed open: keep what arrived (reference
            # keeps the decoded prefix; ignoreCorruptFiles gives the
            # same here) — but only publish a tmp that exists
            self.errors.append(str(exc))
            if not os.path.exists(tmp):
                return
        with self._lock:
            self.num_bytes += copied
        os.rename(tmp, final)

    def _handle_stream(self, rfile) -> None:
        """tcp.go:146-210: gzip-decode, chunk, and never split a line —
        a chunk is cut at its last newline, the tail carries over."""
        if self.decode == "executor":
            return self._handle_stream_raw(rfile)
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
    chunk_bytes: int = TCP_CHUNK_BUFFER
    decode: str = "driver"

    def __post_init__(self):
        # fail at CONFIG time, not when listener() is eventually called
        # (a typo'd TOML Decode= would otherwise run driver-mode readers
        # over a raw-gz spool without complaint)
        if self.decode not in ("driver", "executor"):
            raise ValueError(
                f"decode must be 'driver' or 'executor', got {self.decode!r}"
            )
        if self.decode == "executor":
            # raw-gz spool: a truncated stream ships as-is, so the
            # executor read must keep the decodable prefix and carry on
            # (the reference's torn-connection behavior) instead of
            # failing the query on the first torn connection. setdefault:
            # user-supplied reader options must not silently drop this
            self.reader_options = {
                "ignoreCorruptFiles": "true",
                **(self.reader_options or {}),
            }

    def listener(self) -> TCPGzipListener:
        return TCPGzipListener(
            self.path,
            host=self.listen_host,
            port=self.listen_port,
            chunk_bytes=self.chunk_bytes,
            decode=self.decode,
        )
