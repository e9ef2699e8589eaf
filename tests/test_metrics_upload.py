"""Metrics layer + upload stage tests."""

import os

from pyspark.sql import Row

from baker_spark import operators as ops
from baker_spark.metrics import LogMetrics, StatsDumper, StatsdMetrics, collect_observations
from baker_spark.sinks.upload import S3Upload
from tests.conftest import FIXTURES


def test_count_and_tag_observation(spark):
    df = spark.createDataFrame([Row(f1="a"), Row(f1="b"), Row(f1="a")])
    op = ops.CountAndTag(metric="rows_seen", field="f1")
    out = op.apply(df)
    out.write.format("noop").mode("overwrite").save()  # action
    metrics = collect_observations([op])
    assert metrics["rows_seen"]["count"] == 3


def test_stats_dumper(spark):
    client = LogMetrics()
    with StatsDumper(spark, client=client, interval=0.05):
        spark.range(100000).selectExpr("sum(id)").collect()
    assert any(line.startswith("Stats:") for line in client.lines)


def test_statsd_metrics_fire_and_forget():
    # no listener on the port — sends must not raise (fire-and-forget UDP)
    m = StatsdMetrics(port=18125)
    m.gauge("g", 1.5, tags=["k:v"])
    m.delta_count("c", 2)
    m.histogram("h", 0.25)


def test_s3_upload_retry(tmp_path):
    staging = tmp_path / "staging"
    (staging / "sub").mkdir(parents=True)
    (staging / "a.csv.gz").write_text("x")
    (staging / "sub" / "b.csv.gz").write_text("y")

    attempts = {}
    uploaded = []

    def flaky_upload(path, bucket, key):
        attempts[key] = attempts.get(key, 0) + 1
        if attempts[key] == 1:
            raise IOError("transient")
        uploaded.append((bucket, key))

    up = S3Upload(source_base_path=str(staging), bucket="b", prefix="pre", upload_fn=flaky_upload)
    keys = up.run()
    assert sorted(keys) == [os.path.join("pre", "a.csv.gz"), os.path.join("pre", "sub", "b.csv.gz")]
    assert all(n == 2 for n in attempts.values())  # first try failed, retried


# ---------------------------------------------------- Datadog client


def _dd_pair():
    """A DatadogMetrics client wired to a locally-bound UDP socket."""
    import socket as _socket

    sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    sock.bind(("127.0.0.1", 0))
    sock.settimeout(2)
    from baker_spark.metrics import DatadogMetrics

    dd = DatadogMetrics.from_config(
        host=f"127.0.0.1:{sock.getsockname()[1]}",
        prefix="baker.",
        tags=["env:test", "svc:pipeline"],
    )
    return dd, sock


def _recv(sock, n):
    return [sock.recvfrom(65536)[0].decode() for _ in range(n)]


def test_datadog_constant_and_call_tags():
    """client.go:54-57: WithNamespace + WithTags — every metric carries
    the prefix and constant tags; per-call tags are appended."""
    dd, sock = _dd_pair()
    dd.gauge("active_jobs", 3)
    dd.delta_count("uploads", 2, tags=["queue:q1"])
    dd.histogram("batch_size", 7.5)
    assert _recv(sock, 3) == [
        "baker.active_jobs:3|g|#env:test,svc:pipeline",
        "baker.uploads:2|c|#env:test,svc:pipeline,queue:q1",
        "baker.batch_size:7.5|h|#env:test,svc:pipeline",
    ]


def test_datadog_raw_count_emits_positive_deltas():
    """client.go:93-105: RawCount sets a cumulative value; the wire sees
    the delta, clamped at 0 when the counter runs backwards."""
    dd, sock = _dd_pair()
    dd.raw_count("processed", 10)
    dd.raw_count("processed", 15)
    dd.raw_count("processed", 12)  # regression -> 0, never negative
    dd.raw_count("processed", 20)
    assert [m.split("|")[0] for m in _recv(sock, 4)] == [
        "baker.processed:10",
        "baker.processed:5",
        "baker.processed:0",
        "baker.processed:8",
    ]


def test_datadog_duration_is_ms_histogram():
    dd, sock = _dd_pair()
    dd.duration("write_time", 0.25)
    assert _recv(sock, 1) == ["baker.write_time:250.0|h|#env:test,svc:pipeline"]


def test_datadog_send_logs_as_events():
    """hook.go: with SendLogs on, log lines become dogstatsd events."""
    dd, sock = _dd_pair()
    dd.send_logs = True
    dd.send_log("error", "upload failed")
    (msg,) = _recv(sock, 1)
    assert msg == (
        "_e{17,13}:baker_spark error|upload failed"
        "|#env:test,svc:pipeline,level:error"
    )
    # and off by default: nothing on the wire (recv would time out)
    dd.send_logs = False
    dd.send_log("info", "quiet")
    import socket as _socket

    sock.settimeout(0.2)
    try:
        sock.recvfrom(65536)
        raise AssertionError("send_log emitted despite send_logs=False")
    except _socket.timeout:
        pass


def test_datadog_from_config_defaults():
    from baker_spark.metrics import DatadogMetrics

    dd = DatadogMetrics.from_config()
    assert (dd.host, dd.port, dd.prefix, dd.tags) == ("127.0.0.1", 8125, "baker.", [])


def test_toml_metrics_section_compiles_and_reports(spark, tmp_path):
    """[metrics] name="datadog" wires a DatadogMetrics client into the
    compiled Pipeline (config.go:106-113: the client is built before the
    topology and handed to it); run() brackets the sink action with the
    per-second StatsDumper reporting through it."""
    import socket as _socket

    from baker_spark.metrics import DatadogMetrics
    from baker_spark.plans import compile_toml

    sock = _socket.socket(_socket.AF_INET, _socket.SOCK_DGRAM)
    sock.bind(("127.0.0.1", 0))
    sock.settimeout(5)
    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["%s/input.csv.zst"]

[metrics]
name="datadog"

    [metrics.config]
    host="127.0.0.1:%d"
    prefix="custom."
    tags=["env:test"]

[output]
name="FileWriter"

    [output.config]
    PathString="%s/out.csv.gz"
""" % (FIXTURES, sock.getsockname()[1], tmp_path)
    p = compile_toml(toml_text)
    assert isinstance(p.metrics, DatadogMetrics)
    assert p.metrics.prefix == "custom."
    # force at least one dumper tick inside the sink action window
    p.metrics.gauge("probe", 1)
    p.run(spark)
    line = sock.recvfrom(65536)[0].decode()
    assert line.startswith("custom.") and line.endswith("|#env:test")
    sock.close()

    import pytest as _pytest

    with _pytest.raises(ValueError, match="unknown metrics client"):
        compile_toml(toml_text.replace('name="datadog"', 'name="nosuch"', 1))
