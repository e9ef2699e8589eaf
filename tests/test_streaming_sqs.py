"""SQS file-notification input: message parsing for all four reference
formats (/root/reference/input/sqs.go:53-77,143-189), the poller's
filter/delete/redeliver contract (sqs.go:192-246), and TOML SQS
topologies whose notifications drive micro-batches through the
``bakersqs`` source. Queues are ``DirQueueClient`` directories: one
``*.msg`` file is one pending message, delete = unlink."""

import json
import logging

import pytest

from baker_spark import operators as ops
from baker_spark.streaming.daemon import StreamingPipeline
from baker_spark.streaming.sqs import SQSConfig, SQSPoller
from baker_spark.streaming.sqs_datasource import DirQueueClient, SQSSource, SQSStreamReader


def _sns(path):
    return json.dumps({"Type": "Notification", "Message": path})


def _s3_created(bucket, key):
    # the real S3 ObjectCreated notification shape (URL-encoded key)
    return json.dumps(
        {
            "Records": [
                {
                    "eventName": "ObjectCreated:Put",
                    "s3": {"bucket": {"name": bucket}, "object": {"key": key}},
                }
            ]
        }
    )


# ---------------------------------------------------------------- parsing


def test_parse_plain_is_identity():
    parse = SQSConfig(message_format="plain").parse_function()
    assert parse("s3://b/some/file.csv.gz") == "s3://b/some/file.csv.gz"


def test_parse_sns_extracts_message_field():
    parse = SQSConfig(message_format="sns").parse_function()
    assert parse(_sns("s3://b/a/file.csv.zst")) == "s3://b/a/file.csv.zst"


def test_parse_s3_objectcreated_assembles_path():
    parse = SQSConfig(message_format="s3::ObjectCreated").parse_function()
    assert parse(_s3_created("mybucket", "logs/2024/x.csv.gz")) == (
        "s3://mybucket/logs/2024/x.csv.gz"
    )


def test_parse_json_with_custom_jmespath():
    cfg = SQSConfig(message_format="json", message_expression="detail.object.path")
    parse = cfg.parse_function()
    assert parse(json.dumps({"detail": {"object": {"path": "s3://b/k.csv"}}})) == "s3://b/k.csv"


def test_parse_json_requires_expression():
    with pytest.raises(ValueError, match="MessageExpression is required"):
        SQSConfig(message_format="json").parse_function()


def test_parse_unknown_format_rejected():
    with pytest.raises(ValueError, match="unknown MessageFormat"):
        SQSConfig(message_format="carrier-pigeon").parse_function()


def test_parse_bucket_configured_rewrites_to_key():
    # sqs.go:183-187: with Bucket set, only the key survives
    parse = SQSConfig(message_format="sns", bucket="mybucket").parse_function()
    assert parse(_sns("s3://otherbucket/a/b.csv")) == "a/b.csv"


def test_parse_errors_name_the_failure():
    parse = SQSConfig(message_format="sns").parse_function()
    with pytest.raises(ValueError, match="decode json"):
        parse("not json at all")
    with pytest.raises(ValueError, match="find S3 path"):
        parse(json.dumps({"NoMessageHere": 1}))
    with pytest.raises(ValueError, match="not a string"):
        parse(json.dumps({"Message": 42}))


# ---------------------------------------------------------------- poller


def _queue(root, name, *bodies):
    """A DirQueueClient queue ``root/name`` holding ``bodies`` in order."""
    q = root / name
    q.mkdir(parents=True, exist_ok=True)
    for i, body in enumerate(bodies):
        (q / f"m{i:03d}.msg").write_text(body)
    return q


def _pending(q):
    return sorted(p.name for p in q.glob("*.msg"))


def test_poller_parses_filters_unescapes_and_deletes(tmp_path):
    a = _queue(tmp_path, "logs-a", "s3://b/keep/x+y.csv", "s3://b/skip/z.csv")
    b = _queue(tmp_path, "logs-b", "s3://b/keep/w.csv")
    poller = SQSPoller(
        SQSConfig(
            message_format="plain",
            queue_prefixes=["logs-"],
            file_path_filter=r"/keep/",
        ),
        DirQueueClient(str(tmp_path)),
    )
    got = poller.poll_pending()
    # unescape happened before the filter ('+' -> space, sqs.go:222-226)
    assert [(path, handle) for path, _url, handle in got] == [
        ("s3://b/keep/x y.csv", "m000.msg"),
        ("s3://b/keep/w.csv", "m000.msg"),
    ]
    assert [url for _path, url, _handle in got] == [str(a), str(b)]
    # the filtered-out message is deleted at once; admitted ones wait
    # for the caller's delete (bakersqs: after the offset WAL write)
    assert _pending(a) == ["m000.msg"] and _pending(b) == ["m000.msg"]
    for _path, url, handle in got:
        poller.client.delete_message(QueueUrl=url, ReceiptHandle=handle)
    assert poller.poll_pending() == []


def test_poller_leaves_unparsable_messages_for_redelivery(tmp_path):
    q = _queue(tmp_path, "q", "definitely not json")
    errors = []
    poller = SQSPoller(
        SQSConfig(message_format="sns", queue_names=["q"]),
        DirQueueClient(str(tmp_path)),
        on_error=lambda body, exc: errors.append(body),
    )
    assert poller.poll_pending() == []
    assert _pending(q) == ["m000.msg"]  # not deleted
    assert errors == ["definitely not json"]


def test_bakersqs_logs_unparsable_message(tmp_path, caplog):
    """The bakersqs reader passes no on_error: the poller's default
    logs each parse failure as a warning naming the error, and the
    message stays for redelivery."""
    q = _queue(tmp_path, "q", "definitely not json")
    reader = SQSStreamReader({"fake_dir": str(q), "message_format": "sns"})
    with caplog.at_level(logging.WARNING, logger="baker_spark.streaming.sqs"):
        assert reader.latestOffset()["files"] == []
    assert "can't decode json from SQS message" in caplog.text
    assert "definitely not json" in caplog.text
    assert _pending(q) == ["m000.msg"]


def test_poller_requires_queue_names_or_prefixes(tmp_path):
    with pytest.raises(ValueError, match="QueuePrefixes or QueueNames"):
        SQSPoller(SQSConfig(message_format="plain"), DirQueueClient(str(tmp_path)))


def test_dir_queue_skips_message_still_being_written(tmp_path):
    """An empty ``*.msg`` file is a message whose writer has not written
    it yet (SQS bodies are never empty): receiving it would admit an
    empty path."""
    q = _queue(tmp_path, "q", "")
    client = DirQueueClient(str(tmp_path))
    url = client.get_queue_url(QueueName="q")["QueueUrl"]
    assert client.receive_message(QueueUrl=url)["Messages"] == []
    (q / "m000.msg").write_text("s3://b/k.csv")
    got = client.receive_message(QueueUrl=url)["Messages"]
    assert [m["Body"] for m in got] == ["s3://b/k.csv"]


def test_queue_urls_deduplicated(tmp_path):
    _queue(tmp_path, "logs-a")
    _queue(tmp_path, "logs-b")
    poller = SQSPoller(
        SQSConfig(message_format="plain", queue_names=["logs-a"], queue_prefixes=["logs-"]),
        DirQueueClient(str(tmp_path)),
    )
    assert len(poller.queue_urls()) == 2  # logs-a named AND prefix-matched: once


# ------------------------------------------------------------------- e2e


def _write_csv(path, rows):
    with open(path, "w") as fh:
        fh.write("\n".join(rows) + "\n")


def test_sqs_messages_drive_micro_batch_end_to_end(spark, tmp_path):
    """SNS notifications in a named queue name three local files (one
    with a URL-encoded space); ONE Structured Streaming query reads them
    through bakersqs and an operator chain, and a later notification is
    picked up by the running query."""
    data_dir = tmp_path / "data"
    data_dir.mkdir()
    _write_csv(data_dir / "a.csv", ["1,click,u1", "2,view,u2"])
    _write_csv(data_dir / "b.csv", ["3,click,u3"])
    _write_csv(data_dir / "c c.csv", ["4,click,u4"])
    q = _queue(
        tmp_path / "queues",
        "notify",
        _sns(str(data_dir / "a.csv")),
        _sns(str(data_dir / "b.csv")),
        _sns(str(data_dir / "c+c.csv")),  # unescaped to 'c c.csv'
    )

    pipe = StreamingPipeline(
        source=SQSSource(
            queue_names=["notify"],
            fake_dir=str(tmp_path / "queues"),
            fields=["id", "etype", "user"],
        ),
        ops=[ops.ClauseFilter("(etype click)")],
        fields=["id", "etype"],
    )
    query = pipe.start_memory(spark, "sqs_out")
    try:
        query.processAllAvailable()
        got = {r.id for r in spark.sql("SELECT id FROM sqs_out").collect()}
        assert got == {"1", "3", "4"}
        assert _pending(q) == []

        # daemon contract: a NEW notification arrives, the running query
        # picks the file up incrementally
        _write_csv(data_dir / "d.csv", ["5,click,u5"])
        (q / "m100.msg").write_text(_sns(str(data_dir / "d.csv")))
        query.processAllAvailable()
        got = {r.id for r in spark.sql("SELECT id FROM sqs_out").collect()}
        assert got == {"1", "3", "4", "5"}
        assert _pending(q) == []
    finally:
        query.stop()


def _sqs_toml(config: str, output: str = 'name = "Nop"') -> str:
    return f"""
[fields]
names = ["id", "etype", "user"]

[input]
name = "SQS"
  [input.config]
{config}

[output]
{output}
"""


def test_toml_compiles_sqs_section_with_message_config(tmp_path):
    from baker_spark.plans import compile_toml

    toml_text = _sqs_toml(
        """  QueueNames = ["notify-queue"]
  MessageFormat = "s3::ObjectCreated"
  Bucket = "mybucket"
  FilePathFilter = "\\\\.csv$"
  AWSRegion = "eu-west-1"
"""
    )
    src = compile_toml(toml_text).source
    assert isinstance(src, SQSSource)
    assert src.queue_names == ["notify-queue"]
    assert src.message_format == "s3::ObjectCreated"
    assert src.bucket == "mybucket"
    assert src.file_path_filter == r"\.csv$"
    assert src.aws_region == "eu-west-1"
    assert src.fields == ["id", "etype", "user"]
    # the TOML default format is sns (sqs.go:53), not bakersqs's plain
    assert compile_toml(_sqs_toml('  QueuePrefixes = ["q-"]')).source.message_format == "sns"
    # a bad format or filter fails at compile time, like fillDefaults
    with pytest.raises(ValueError, match="unknown MessageFormat"):
        compile_toml(toml_text.replace("s3::ObjectCreated", "bogus"))
    with pytest.raises(ValueError, match="invalid FilePathFilter"):
        compile_toml(_sqs_toml('  QueueNames = ["q"]\n  FilePathFilter = "("'))


def test_toml_sqs_topology_consumes_its_queue(spark, tmp_path):
    """A TOML SQS topology started with compile_toml(...).start() reads
    its queue: the notified file's rows reach the sink and the queue
    drains (the messages are deleted after the offset WAL write)."""
    from baker_spark.plans import compile_toml

    data = tmp_path / "data.csv"
    _write_csv(data, ["1,click,u1", "2,view,u2"])
    q = _queue(tmp_path / "queues", "notify-queue", _sns(str(data)))
    pipe = compile_toml(
        _sqs_toml(
            f"""  QueueNames = ["notify-queue"]
  FakeDir = "{tmp_path / 'queues'}"
""",
            'name = "Recorder"\nfields = ["id", "user"]',
        )
    )
    query = pipe.start(spark, str(tmp_path / "ckpt"))
    try:
        query.processAllAvailable()
    finally:
        query.stop()
    assert sorted((r["id"], r["user"]) for r in pipe.sink.records) == [
        ("1", "u1"),
        ("2", "u2"),
    ]
    assert _pending(q) == []
