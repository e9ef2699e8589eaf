"""Live round-trip for the RFC 6455 broadcast server behind
WebSocketSink (/root/reference/output/websocket/server.go semantics:
client registry + SendAll fan-out + drop-on-error)."""

import base64
import json
import os
import socket
import time

from baker_spark.sinks.simple import WebSocketSink
from baker_spark.sinks.websocket_server import (
    WebSocketBroadcastServer,
    accept_key,
    decode_frames,
)
from tests.conftest import FIXTURES


class _Client:
    """Raw-socket WebSocket client: handshake + frame decode (the test's
    independent implementation of the client side)."""

    def __init__(self, host, port):
        self.sock = socket.create_connection((host, port), timeout=5)
        key = base64.b64encode(os.urandom(16)).decode()
        self.sock.sendall(
            (
                f"GET / HTTP/1.1\r\nHost: {host}:{port}\r\n"
                "Upgrade: websocket\r\nConnection: Upgrade\r\n"
                f"Sec-WebSocket-Key: {key}\r\n"
                "Sec-WebSocket-Version: 13\r\n\r\n"
            ).encode()
        )
        resp = b""
        while b"\r\n\r\n" not in resp:
            resp += self.sock.recv(4096)
        assert b"101" in resp.split(b"\r\n", 1)[0]
        assert accept_key(key).encode() in resp  # server computed RFC accept
        self._buf = b""

    def read_messages(self, n, timeout=10.0):
        msgs = []
        deadline = time.time() + timeout
        self.sock.settimeout(0.5)
        while len(msgs) < n and time.time() < deadline:
            try:
                chunk = self.sock.recv(65536)
            except TimeoutError:
                continue
            if not chunk:
                break
            self._buf += chunk
            got, self._buf = decode_frames(self._buf)
            msgs.extend(got)
        return msgs

    def close(self):
        self.sock.close()


def _wait_clients(server, n, timeout=5.0):
    deadline = time.time() + timeout
    while server.client_count < n and time.time() < deadline:
        time.sleep(0.02)
    assert server.client_count >= n


def test_broadcast_reaches_all_clients():
    with WebSocketBroadcastServer() as server:
        c1 = _Client(server.host, server.port)
        c2 = _Client(server.host, server.port)
        _wait_clients(server, 2)
        assert server.broadcast("hello") == 2
        assert c1.read_messages(1) == ["hello"]
        assert c2.read_messages(1) == ["hello"]
        c1.close()
        c2.close()


def test_dead_client_is_dropped_not_fatal():
    with WebSocketBroadcastServer() as server:
        c1 = _Client(server.host, server.port)
        c2 = _Client(server.host, server.port)
        _wait_clients(server, 2)
        c2.close()
        # first broadcast may still land in c2's kernel buffer; keep
        # sending until the dead socket surfaces and is dropped
        deadline = time.time() + 5
        while server.client_count > 1 and time.time() < deadline:
            server.broadcast("ping")
            time.sleep(0.05)
        assert server.client_count == 1
        got = c1.read_messages(1)
        assert got and all(m == "ping" for m in got)
        c1.close()


def test_websocket_sink_through_live_server(spark):
    """The full reference topology: records -> WebSocketSink ->
    broadcast server -> connected client, one JSON line per record
    (output/websocket.go:52-71 pushes selected fields per record)."""
    with WebSocketBroadcastServer() as server:
        client = _Client(server.host, server.port)
        _wait_clients(server, 1)
        df = spark.createDataFrame(
            [(1, "click"), (2, "view"), (3, "error")], "event_id long, event_type string"
        )
        sink = WebSocketSink(send_fn=server.broadcast, fields=["event_id", "event_type"])
        sink.write(df)
        assert sink.sent == 3
        msgs = [json.loads(m) for m in client.read_messages(3)]
        assert sorted(m["event_id"] for m in msgs) == [1, 2, 3]
        assert {m["event_type"] for m in msgs} == {"click", "view", "error"}
        client.close()


def test_large_frame_roundtrip():
    """Length-extended frames (126 and 127 encodings) survive intact."""
    with WebSocketBroadcastServer() as server:
        client = _Client(server.host, server.port)
        _wait_clients(server, 1)
        mid = "x" * 300          # 16-bit length path
        big = "y" * 70_000       # 64-bit length path
        server.broadcast(mid)
        server.broadcast(big)
        msgs = client.read_messages(2, timeout=15)
        assert msgs == [mid, big]
        client.close()


def test_websocket_toml_topology(spark):
    """[output] name='WebSocket' (output/websocket.go:12-24 registers it
    as a first-class output): the compiled topology starts the broadcast
    server and pushes each record's selected fields to connected
    clients. Port=0 is the test extension (the reference hardcodes
    :8080)."""
    from baker_spark.plans import compile_toml

    toml_text = f"""
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{FIXTURES}/input.csv.zst"]

[output]
name="WebSocket"
fields=["a", "c"]

    [output.config]
    Port=0
"""
    pipe = compile_toml(toml_text)
    server = pipe.sink.server
    assert not server.running  # compile binds nothing (lazy lifecycle)
    try:
        server.start()  # idempotent — write() would also start it
        client = _Client(server.host, server.port)
        _wait_clients(server, 1)
        pipe.run(spark)
        msgs = [json.loads(m) for m in client.read_messages(4)]
        assert len(msgs) == 4
        assert all(set(m) == {"a", "c"} for m in msgs)  # field projection
        assert sorted(m["a"] for m in msgs) == ["value1", "value1", "value4", "value5"]
        client.close()
    finally:
        pipe.close()
    assert not server.running


def test_websocket_toml_compile_binds_no_port():
    """Compiling the same WebSocket config twice (default port 8080)
    must not raise EADDRINUSE: the server starts on first write, not at
    plan-compile time, and sink.close() releases it."""
    from baker_spark.plans import compile_toml

    toml_text = f"""
[fields]
names=["a"]

[input]
name="List"

    [input.config]
    files=["{FIXTURES}/input.csv.zst"]

[output]
name="WebSocket"
"""
    p1 = compile_toml(toml_text)
    p2 = compile_toml(toml_text)  # would EADDRINUSE if compile bound :8080
    assert not p1.sink.server.running and not p2.sink.server.running
    # lazy start happens exactly once per sink, and close() stops it
    p1.sink.server.start()
    assert p1.sink.server.start() == (p1.sink.server.host, p1.sink.server.port)
    p1.close()
    p2.close()
    assert not p1.sink.server.running
