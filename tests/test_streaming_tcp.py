"""TCP gzip input: the reference's wire format — one gzip stream per
connection, chunked on complete-line boundaries
(/root/reference/input/tcp.go:146-210) — round-tripped through the
driver-side listener into a Structured Streaming micro-batch."""

import glob
import os
import time

from baker_spark import operators as ops
from baker_spark.streaming.daemon import StreamingPipeline
from baker_spark.streaming.tcp import (
    TCPFileSource,
    TCPGzipListener,
    send_gzip_records,
)


def _wait_for_spool(spool_dir, n_files, timeout=10.0):
    deadline = time.time() + timeout
    while time.time() < deadline:
        files = sorted(glob.glob(os.path.join(spool_dir, "tcp-*.csv")))
        if len(files) >= n_files:
            return files
        time.sleep(0.05)
    raise AssertionError(f"spool never reached {n_files} files")


def test_gzip_roundtrip_single_connection(tmp_path):
    spool = str(tmp_path / "spool")
    with TCPGzipListener(spool, port=0) as listener:
        send_gzip_records(
            listener.host, listener.port, b"1,click,u1\n2,view,u2\n3,click,u3\n"
        )
        files = _wait_for_spool(spool, 1)
    data = b"".join(open(f, "rb").read() for f in files)
    assert data == b"1,click,u1\n2,view,u2\n3,click,u3\n"
    assert listener.num_lines == 3  # InputStats analog (tcp.go:126-131)
    assert listener.connections == 1


def test_chunking_never_splits_a_line(tmp_path):
    """With a tiny chunk buffer every line spans chunks; each spooled
    file must still contain only complete lines (tcp.go:162-186)."""
    spool = str(tmp_path / "spool")
    lines = [f"{i:04d},{'x' * 40},u{i}".encode() for i in range(50)]
    payload = b"\n".join(lines) + b"\n"
    with TCPGzipListener(spool, port=0, chunk_bytes=16) as listener:
        send_gzip_records(listener.host, listener.port, payload)
        _wait_for_spool(spool, 1)
        # drain: connection handler finishes before stop() returns
    files = sorted(glob.glob(os.path.join(spool, "tcp-*.csv")))
    original = set(lines)
    for f in files:
        content = open(f, "rb").read()
        assert content.endswith(b"\n")  # complete lines only
        for line in content.rstrip(b"\n").split(b"\n"):
            assert line in original  # no torn records
    assert b"".join(open(f, "rb").read() for f in files) == payload


def test_unterminated_final_line_is_completed(tmp_path):
    """EOF with no trailing newline: the tail is still one record
    (the reference sends the final chunk as-is, tcp.go:166-170)."""
    spool = str(tmp_path / "spool")
    with TCPGzipListener(spool, port=0) as listener:
        send_gzip_records(listener.host, listener.port, b"1,click,u1\n2,view,u2")
        files = _wait_for_spool(spool, 1)
    data = b"".join(open(f, "rb").read() for f in sorted(glob.glob(os.path.join(spool, "tcp-*.csv"))))
    assert data == b"1,click,u1\n2,view,u2\n"


def test_tcp_stream_drives_micro_batch_end_to_end(spark, tmp_path):
    spool = str(tmp_path / "spool")
    src = TCPFileSource(spool, fields=["id", "etype", "user"], listen_port=0)
    listener = src.listener()
    listener.start()
    pipe = StreamingPipeline(
        source=src,
        ops=[ops.ClauseFilter("(etype click)")],
        fields=["id", "etype"],
    )
    q = pipe.start_memory(spark, "tcp_out")
    try:
        send_gzip_records(listener.host, listener.port, b"1,click,u1\n2,view,u2\n")
        _wait_for_spool(spool, 1)
        q.processAllAvailable()
        assert {r.id for r in spark.sql("SELECT id FROM tcp_out").collect()} == {"1"}

        # daemon contract: a second connection streams in incrementally
        send_gzip_records(listener.host, listener.port, b"3,click,u3\n")
        _wait_for_spool(spool, 2)
        q.processAllAvailable()
        assert {r.id for r in spark.sql("SELECT id FROM tcp_out").collect()} == {"1", "3"}
    finally:
        q.stop()
        listener.stop()


def test_toml_compiles_tcp_with_spool_to_gzip_source(tmp_path):
    from baker_spark.plans import compile_toml

    plan = compile_toml(
        f"""
[fields]
names = ["id", "etype", "user"]

[input]
name = "TCP"
  [input.config]
  Listener = ":7200"
  SpoolDir = "{tmp_path}/spool"

[output]
name = "Nop"
"""
    )
    src = plan.source
    assert isinstance(src, TCPFileSource)
    assert src.listen_port == 7200
    listener = src.listener()
    assert listener.spool_dir == f"{tmp_path}/spool"


def test_bad_gzip_connection_logged_and_survived(tmp_path):
    """A connection with invalid gzip framing fails alone; the listener
    keeps serving (the reference logs stream errors per connection and
    stays up, tcp.go:104-113)."""
    import socket as _socket

    spool = str(tmp_path / "spool")
    with TCPGzipListener(spool, port=0) as listener:
        with _socket.create_connection((listener.host, listener.port)) as conn:
            conn.sendall(b"this is not gzip at all")
            conn.shutdown(_socket.SHUT_WR)
        # next, a GOOD connection still works
        send_gzip_records(listener.host, listener.port, b"1,click,u1\n")
        files = _wait_for_spool(spool, 1)
    assert listener.errors, "bad gzip should be recorded"
    assert open(files[0], "rb").read() == b"1,click,u1\n"


def test_rotate_interval_becomes_streaming_trigger(tmp_path):
    """RotateInterval (filewriter.go:95) in a daemon topology sets the
    micro-batch trigger: Go duration strings parse, "-1" disables."""
    from baker_spark.plans import compile_toml
    from baker_spark.sinks.filewriter import parse_go_duration

    assert parse_go_duration("60s") == 60
    assert parse_go_duration("1m30s") == 90
    assert parse_go_duration("500ms") == 0.5
    assert parse_go_duration("-1") == -1
    import pytest as _pytest

    with _pytest.raises(ValueError):
        parse_go_duration("60x")

    base = f"""
[fields]
names = ["id", "etype", "user"]

[input]
name = "TCP"
  [input.config]
  Listener = ":7201"
  SpoolDir = "{tmp_path}/spool"

[output]
name = "FileWriter"
  [output.config]
  PathString = "{tmp_path}/out.csv.gz"
  RotateInterval = "%s"
"""
    assert compile_toml(base % "90s").trigger_seconds == 90
    assert compile_toml(base % "-1").trigger_seconds is None


def test_truncated_gzip_recorded_not_fatal(tmp_path):
    """A connection dropped mid-gzip-stream raises EOFError (not
    OSError); it must land in listener.errors like any torn connection
    (tcp.go:110-112), and the listener must keep serving."""
    import gzip as _gzip
    import io
    import socket as _socket

    spool = str(tmp_path / "spool")
    with TCPGzipListener(spool, port=0) as listener:
        buf = io.BytesIO()
        with _gzip.GzipFile(fileobj=buf, mode="wb") as gz:
            gz.write(b"1,click,u1\n" * 50)
        truncated = buf.getvalue()[: len(buf.getvalue()) // 2]
        with _socket.create_connection((listener.host, listener.port)) as conn:
            conn.sendall(truncated)
            conn.shutdown(_socket.SHUT_WR)
        send_gzip_records(listener.host, listener.port, b"2,view,u2\n")
        files = _wait_for_spool(spool, 1)
    assert any("end-of-stream" in e or "EOF" in e for e in listener.errors), listener.errors
    assert any(b"2,view,u2" in open(f, "rb").read() for f in files)


def test_spool_counter_resumes_past_existing_files(tmp_path):
    """A restarted listener continues the spool numbering: restarting at
    1 would rename onto tcp-00000001.csv, which the file source has
    already seen (never re-read) or not yet read (overwritten)."""
    spool = str(tmp_path / "spool")
    with TCPGzipListener(spool, port=0) as listener:
        send_gzip_records(listener.host, listener.port, b"1,click,u1\n")
        _wait_for_spool(spool, 1)
        send_gzip_records(listener.host, listener.port, b"2,view,u2\n")
        _wait_for_spool(spool, 2)
    restarted = TCPGzipListener(spool, port=0)
    assert restarted._seq == 2
    with restarted:
        send_gzip_records(restarted.host, restarted.port, b"3,click,u3\n")
        files = _wait_for_spool(spool, 3)
    assert [os.path.basename(f) for f in files] == [
        "tcp-00000001.csv", "tcp-00000002.csv", "tcp-00000003.csv",
    ]
    assert open(files[2], "rb").read() == b"3,click,u3\n"


def test_tcp_micro_batch_survives_torn_connection(spark, tmp_path):
    """A connection torn mid-gzip-stream is logged by the listener and
    the streaming query stays up: rows of the connections before and
    after it land (the reference logs a stream error per connection and
    keeps serving, tcp.go:104-113)."""
    import gzip as _gzip
    import socket as _socket

    spool = str(tmp_path / "spool")
    src = TCPFileSource(spool, fields=["id", "etype", "user"], listen_port=0)
    listener = src.listener()
    listener.start()
    pipe = StreamingPipeline(
        source=src,
        ops=[ops.ClauseFilter("(etype click)")],
        fields=["id", "etype"],
    )
    q = pipe.start_memory(spark, "tcp_torn_out")
    try:
        send_gzip_records(listener.host, listener.port, b"1,click,u1\n2,view,u2\n")
        _wait_for_spool(spool, 1)
        q.processAllAvailable()
        assert {r.id for r in spark.sql("SELECT id FROM tcp_torn_out").collect()} == {"1"}

        whole = _gzip.compress(b"4,click,u4\n" * 100)
        with _socket.create_connection((listener.host, listener.port)) as conn:
            conn.sendall(whole[: len(whole) // 2])
            conn.shutdown(_socket.SHUT_WR)
        send_gzip_records(listener.host, listener.port, b"5,click,u5\n")
        _wait_for_spool(spool, 2)
        q.processAllAvailable()
        got = {r.id for r in spark.sql("SELECT id FROM tcp_torn_out").collect()}
        assert got == {"1", "5"} and q.isActive
    finally:
        q.stop()
        listener.stop()  # joins the handler threads
    assert any("end-of-stream" in e for e in listener.errors), listener.errors


def test_toml_decode_key_is_rejected(tmp_path):
    """The executor-side decode was removed; a topology that still sets
    Decode fails at compile time instead of silently ignoring it."""
    import pytest

    from baker_spark.plans import compile_toml

    with pytest.raises(
        ValueError,
        match="TCP input: Decode has no replacement: the listener always "
        "gzip-decodes on the driver",
    ):
        compile_toml(
            f"""
[fields]
names = ["id", "etype", "user"]

[input]
name = "TCP"
  [input.config]
  Listener = ":7202"
  SpoolDir = "{tmp_path}/spool"
  Decode = "driver"

[output]
name = "Nop"
"""
        )
