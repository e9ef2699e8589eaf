"""Wire-level tests for the boto3 branches against an in-process moto
server.

The engine's AWS sources/sinks normally run against injected fakes
(DirStreamClient, DirQueueClient, fake dynamodb clients, upload_fn) —
those prove the engine logic but never execute the PRODUCTION client
construction and real request/response marshalling. moto's
ThreadedMotoServer is a real HTTP endpoint speaking the real AWS wire
protocol, so these tests drive the exact code a deployment runs —
``_make_client``'s boto3 branch (including executor-side rebuilds in
Python worker processes), ``DynamoDBWriter``'s default client factory,
``S3Upload``'s default ``upload_fn``, ``_s3_lines``'s GetObject — end
to end through ``endpoint_url``.

The same four surfaces have LIVE twins in test_live_aws.py (opt-in via
BAKER_SPARK_LIVE_AWS=1, LocalStack or real AWS); this module is the
always-on CI version. Dummy creds come from conftest (set before the
Spark JVM starts so executor workers inherit them for SigV4 signing).
"""

from __future__ import annotations

import time
import uuid

import pytest

pytest.importorskip("boto3", reason="boto3 absent")
moto_server = pytest.importorskip(
    "moto.server", reason="moto server absent"
)

import boto3  # noqa: E402


@pytest.fixture(scope="module")
def endpoint():
    server = moto_server.ThreadedMotoServer(port=0, verbose=False)
    server.start()
    _, port = server.get_host_and_port()
    yield f"http://127.0.0.1:{port}"
    server.stop()


def _poll(fn, timeout=60.0, every=0.2, what="condition"):
    deadline = time.time() + timeout
    while time.time() < deadline:
        out = fn()
        if out:
            return out
        time.sleep(every)
    raise AssertionError(f"timed out waiting for {what}")


def test_kinesis_boto3_branch_streams_records(spark, endpoint, tmp_path):
    """bakerkinesis with a REAL boto3 client: stream discovery, shard
    iterators, get_records paging and sequence-number offsets all run
    against the wire protocol — including the executor-side client
    rebuild (boto3 clients don't pickle; read() reconstructs from
    options inside the Python worker process)."""
    client = boto3.client("kinesis", region_name="us-west-2", endpoint_url=endpoint)
    stream = f"moto-kin-{uuid.uuid4().hex[:8]}"
    client.create_stream(StreamName=stream, ShardCount=2)
    client.get_waiter("stream_exists").wait(StreamName=stream)
    for i in range(6):
        client.put_record(
            StreamName=stream,
            Data=f"{i},click,user_{i}".encode(),
            PartitionKey=f"pk{i}",
        )

    from baker_spark.streaming.kinesis_datasource import register

    register(spark)
    name = f"moto_kin_{uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("bakerkinesis")
        .option("stream", stream)
        .option("aws_region", "us-west-2")
        .option("endpoint_url", endpoint)
        .option("initial_position", "TRIM_HORIZON")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows = _poll(
            lambda: (
                q.processAllAvailable(),
                spark.sql(f"SELECT * FROM {name}").collect(),
            )[1]
            if q.isActive
            else None,
            what="kinesis records via moto",
        )
        assert len(rows) == 6
        datas = {bytes(r.data).decode() if hasattr(r, "data") else str(r[0]) for r in rows}
        assert any("user_3" in d for d in datas)

        # a second batch arrives incrementally through the same offsets
        client.put_record(StreamName=stream, Data=b"9,view,user_9", PartitionKey="pk9")
        _poll(
            lambda: (
                q.processAllAvailable(),
                len(spark.sql(f"SELECT * FROM {name}").collect()) == 7,
            )[1],
            what="second kinesis batch",
        )
    finally:
        q.stop()
        client.delete_stream(StreamName=stream)


def test_sqs_boto3_branch_delivers_and_deletes(spark, endpoint, tmp_path):
    """bakersqs with a REAL boto3 client: receive, WAL-journal, deliver,
    delete-after-commit — over the wire."""
    client = boto3.client("sqs", region_name="us-west-2", endpoint_url=endpoint)
    qname = f"moto-sqs-{uuid.uuid4().hex[:8]}"
    queue_url = client.create_queue(QueueName=qname)["QueueUrl"]

    # plain format: the message body names a local file to ingest
    data = tmp_path / "notified.csv"
    data.write_text("5,click,user_5\n6,view,user_6\n")
    client.send_message(QueueUrl=queue_url, MessageBody=str(data))

    from baker_spark.streaming.sqs_datasource import register

    register(spark)
    name = f"moto_sqs_{uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("bakersqs")
        .option("queue_names", qname)
        .option("aws_region", "us-west-2")
        .option("endpoint_url", endpoint)
        .option("message_format", "plain")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows = _poll(
            lambda: (
                q.processAllAvailable(),
                spark.sql(f"SELECT * FROM {name}").collect(),
            )[1]
            if q.isActive
            else None,
            what="sqs-notified file via moto",
        )
        assert {str(r[0]) for r in rows} == {"5,click,user_5", "6,view,user_6"}
        # delete-after-commit: assert on queue ATTRIBUTES — a consumed
        # message is invisible for its whole visibility window, so a
        # receive_message-based check is vacuously true with or without
        # the delete; NotVisible == 0 is what proves the delete ran
        def _deleted():
            attrs = client.get_queue_attributes(
                QueueUrl=queue_url,
                AttributeNames=[
                    "ApproximateNumberOfMessages",
                    "ApproximateNumberOfMessagesNotVisible",
                ],
            )["Attributes"]
            return (
                attrs["ApproximateNumberOfMessages"] == "0"
                and attrs["ApproximateNumberOfMessagesNotVisible"] == "0"
            )

        _poll(_deleted, timeout=30, what="delete-after-commit (NotVisible == 0)")
    finally:
        q.stop()
        client.delete_queue(QueueUrl=queue_url)


def test_sqs_s3_object_fetch_on_executors(spark, endpoint, tmp_path):
    """The S3-notification path: the queue message points at an
    s3:// object and _s3_lines fetches it with boto3 INSIDE the
    executor worker — the full sqs.go openFile S3 analog."""
    s3 = boto3.client("s3", region_name="us-west-2", endpoint_url=endpoint)
    bucket = f"moto-s3-{uuid.uuid4().hex[:8]}"
    s3.create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "us-west-2"},
    )
    s3.put_object(Bucket=bucket, Key="in/events.csv", Body=b"8,click,user_8\n")

    sqs = boto3.client("sqs", region_name="us-west-2", endpoint_url=endpoint)
    qname = f"moto-sqs-s3-{uuid.uuid4().hex[:8]}"
    queue_url = sqs.create_queue(QueueName=qname)["QueueUrl"]
    sqs.send_message(QueueUrl=queue_url, MessageBody=f"s3://{bucket}/in/events.csv")

    from baker_spark.streaming.sqs_datasource import register

    register(spark)
    name = f"moto_sqs_s3_{uuid.uuid4().hex[:6]}"
    q = (
        spark.readStream.format("bakersqs")
        .option("queue_names", qname)
        .option("aws_region", "us-west-2")
        .option("endpoint_url", endpoint)
        .option("message_format", "plain")
        .load()
        .writeStream.format("memory")
        .queryName(name)
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        rows = _poll(
            lambda: (
                q.processAllAvailable(),
                spark.sql(f"SELECT * FROM {name}").collect(),
            )[1]
            if q.isActive
            else None,
            what="s3 object lines via moto",
        )
        assert [str(r[0]) for r in rows] == ["8,click,user_8"]
    finally:
        q.stop()
        sqs.delete_queue(QueueUrl=queue_url)


def test_dynamodb_default_factory_writes(spark, endpoint):
    """DynamoDBWriter with its DEFAULT boto3 factory (built inside
    foreachPartition on the executors): typed items land queryable."""
    client = boto3.client("dynamodb", region_name="us-west-2", endpoint_url=endpoint)
    table = f"moto-ddb-{uuid.uuid4().hex[:8]}"
    client.create_table(
        TableName=table,
        KeySchema=[{"AttributeName": "id", "KeyType": "HASH"}],
        AttributeDefinitions=[{"AttributeName": "id", "AttributeType": "S"}],
        BillingMode="PAY_PER_REQUEST",
    )
    client.get_waiter("table_exists").wait(TableName=table)
    try:
        from baker_spark.sinks.dynamodb import DynamoDBWriter

        df = spark.createDataFrame(
            [("a", 1), ("b", 2), ("c", 3)], "id string, v long"
        )
        DynamoDBWriter(
            table=table,
            columns=["s:id", "n:v"],
            regions=["us-west-2"],
            endpoint_url=endpoint,
        ).write(df)
        items = client.scan(TableName=table)["Items"]
        assert {it["id"]["S"]: it["v"]["N"] for it in items} == {
            "a": "1",
            "b": "2",
            "c": "3",
        }
    finally:
        client.delete_table(TableName=table)


def _make_ddb_table(client, pk="id"):
    table = f"moto-ddb-{uuid.uuid4().hex[:8]}"
    client.create_table(
        TableName=table,
        KeySchema=[{"AttributeName": pk, "KeyType": "HASH"}],
        AttributeDefinitions=[{"AttributeName": pk, "AttributeType": "S"}],
        BillingMode="PAY_PER_REQUEST",
    )
    client.get_waiter("table_exists").wait(TableName=table)
    return table


def test_dynamodb_crash_replay_converges(endpoint):
    """At-least-once under task retries (SURVEY.md hard part (f)), wire
    level: a task that dies MID-PARTITION — after some 25-item batches
    already landed — is replayed from the top by Spark. Batch puts are
    idempotent per PK, so the replay overwrites rather than duplicates
    and the table converges to exactly one item per PK. This drives the
    replay exactly as Spark does: re-running the partition's
    write_batches over the same rows against a fresh client."""
    client = boto3.client("dynamodb", region_name="us-west-2", endpoint_url=endpoint)
    table = _make_ddb_table(client, pk="pk")
    from baker_spark.sinks.dynamodb import write_batches

    class DiesAfterOneBatch:
        """First attempt: one 25-item batch lands, then the task dies."""

        def __init__(self, inner):
            self.inner, self.calls = inner, 0

        def batch_write_item(self, **kw):
            self.calls += 1
            if self.calls > 1:
                raise RuntimeError("executor lost")
            return self.inner.batch_write_item(**kw)

    rows = [{"pk": str(i), "v": str(i * 2)} for i in range(60)]
    try:
        with pytest.raises(RuntimeError, match="executor lost"):
            write_batches(
                iter(rows), table=table, columns=["pk", "v"],
                types=["s", "s"], clients=[DiesAfterOneBatch(client)],
            )
        partial = client.scan(TableName=table, Select="COUNT")["Count"]
        assert 0 < partial < 60  # the crash left a real partial write
        # the retry: same partition, from the top, fresh client
        stats = write_batches(
            iter(rows), table=table, columns=["pk", "v"],
            types=["s", "s"], clients=[client],
        )
        assert stats["written"] == 60
        items = client.scan(TableName=table)["Items"]
        assert len(items) == 60  # converged: no duplicates
        assert {it["pk"]["S"]: it["v"]["S"] for it in items} == {
            str(i): str(i * 2) for i in range(60)
        }
    finally:
        client.delete_table(TableName=table)


def test_dynamodb_strict_once_wire(spark, endpoint):
    """strict_once=True end to end through DynamoDBWriter and the real
    ConditionExpression wire field: an item that already landed (from a
    prior attempt or a racing job) keeps its ORIGINAL attribute values;
    only genuinely new PKs are written."""
    client = boto3.client("dynamodb", region_name="us-west-2", endpoint_url=endpoint)
    table = _make_ddb_table(client)
    from baker_spark.sinks.dynamodb import DynamoDBWriter

    client.put_item(
        TableName=table, Item={"id": {"S": "a"}, "v": {"N": "111"}}
    )
    try:
        df = spark.createDataFrame(
            [("a", 999), ("b", 2), ("c", 3)], "id string, v long"
        )
        DynamoDBWriter(
            table=table,
            columns=["s:id", "n:v"],
            regions=["us-west-2"],
            endpoint_url=endpoint,
            strict_once=True,
        ).write(df)
        items = client.scan(TableName=table)["Items"]
        assert {it["id"]["S"]: it["v"]["N"] for it in items} == {
            "a": "111",  # first writer won — 999 was refused
            "b": "2",
            "c": "3",
        }
    finally:
        client.delete_table(TableName=table)


def test_s3_upload_default_fn_drains(endpoint, tmp_path):
    """S3Upload with its DEFAULT boto3 upload_fn: staging files arrive
    under the prefix and are removed locally (the drain contract)."""
    s3 = boto3.client("s3", region_name="us-west-2", endpoint_url=endpoint)
    bucket = f"moto-up-{uuid.uuid4().hex[:8]}"
    s3.create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "us-west-2"},
    )
    from baker_spark.sinks.upload import S3Upload

    stage = tmp_path / "stage"
    stage.mkdir()
    (stage / "part-00000.csv.gz").write_bytes(b"payload-a")
    (stage / "part-00001.csv.gz").write_bytes(b"payload-b")
    up = S3Upload(
        source_base_path=str(stage),
        bucket=bucket,
        prefix="smoke",
        endpoint_url=endpoint,
    )
    keys = up.run()
    assert up.errors == [] and len(keys) == 2
    listed = {
        o["Key"]
        for o in s3.list_objects_v2(Bucket=bucket, Prefix="smoke")["Contents"]
    }
    assert listed == set(keys)
    assert not list(stage.iterdir())


def test_list_source_matchpath_on_s3_prefix(endpoint):
    """Remote-directory MatchPath parity (reference input/list.go:298-348):
    ``s3://bucket/prefix/`` is walked with ListObjectsV2 and the regex
    applied to each KEY, so a mixed-content prefix yields exactly the
    matching objects as concrete s3a paths. Page size is shrunk to 2 to
    drive the ContinuationToken loop across several round-trips, and a
    zero-byte directory marker must be dropped even with no regex."""
    s3 = boto3.client("s3", region_name="us-west-2", endpoint_url=endpoint)
    bucket = f"moto-ls-{uuid.uuid4().hex[:8]}"
    s3.create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "us-west-2"},
    )
    keys = [
        "logs/2026/01/a.log.gz",
        "logs/2026/01/b.log.gz",
        "logs/2026/02/c.log.gz",
        "logs/2026/02/readme.txt",
        "logs/2026/03/d.log.gz",
        "logs/checkpoint.json",
        "other/e.log.gz",  # outside the prefix — must NOT appear
    ]
    for k in keys:
        s3.put_object(Bucket=bucket, Key=k, Body=b"x")
    s3.put_object(Bucket=bucket, Key="logs/2026/01/", Body=b"")  # dir marker

    from baker_spark.sources.list_source import ListSource

    src = ListSource(
        files=[f"s3://{bucket}/logs/"],
        fields=["f0"],
        match_path=r".*\.log\.gz",  # the reference's default regex
        s3_endpoint_url=endpoint,
    )
    src._s3_page_size = 2
    assert src.resolve() == [
        f"s3a://{bucket}/logs/2026/01/a.log.gz",
        f"s3a://{bucket}/logs/2026/01/b.log.gz",
        f"s3a://{bucket}/logs/2026/02/c.log.gz",
        f"s3a://{bucket}/logs/2026/03/d.log.gz",
    ]

    # no regex: everything under the prefix EXCEPT the directory marker
    src_all = ListSource(
        files=[f"s3://{bucket}/logs/"], fields=["f0"], s3_endpoint_url=endpoint
    )
    assert len(src_all.resolve()) == 6

    # a concrete object (no trailing slash) still maps straight to s3a
    src_one = ListSource(
        files=[f"s3://{bucket}/logs/checkpoint.json"],
        fields=["f0"],
        s3_endpoint_url=endpoint,
    )
    assert src_one.resolve() == [f"s3a://{bucket}/logs/checkpoint.json"]


def test_list_source_matchpath_on_noslash_s3_prefix(endpoint):
    """A directory given WITHOUT the trailing slash must not silently
    bypass MatchPath (the local-dir branch filters the no-slash form via
    os.path.isdir, so the s3 form must match): with match_path set, one
    MaxKeys=1 probe decides object-vs-prefix and a prefix expands
    filtered; a genuine object path stays a concrete s3a path."""
    s3 = boto3.client("s3", region_name="us-west-2", endpoint_url=endpoint)
    bucket = f"moto-nsl-{uuid.uuid4().hex[:8]}"
    s3.create_bucket(
        Bucket=bucket,
        CreateBucketConfiguration={"LocationConstraint": "us-west-2"},
    )
    for k in ("logs/a.log.gz", "logs/skip.txt", "logs/b.log.gz"):
        s3.put_object(Bucket=bucket, Key=k, Body=b"x")

    from baker_spark.sources.list_source import ListSource

    src = ListSource(
        files=[f"s3://{bucket}/logs"],  # no trailing slash
        fields=["f0"],
        match_path=r".*\.log\.gz",
        s3_endpoint_url=endpoint,
    )
    assert src.resolve() == [
        f"s3a://{bucket}/logs/a.log.gz",
        f"s3a://{bucket}/logs/b.log.gz",
    ]
    # a concrete object given with match_path set is still an object
    src_obj = ListSource(
        files=[f"s3://{bucket}/logs/skip.txt"],
        fields=["f0"],
        match_path=r".*\.log\.gz",
        s3_endpoint_url=endpoint,
    )
    assert src_obj.resolve() == [f"s3a://{bucket}/logs/skip.txt"]


def test_list_source_s3_client_reads_endpoint_env(monkeypatch):
    """With S3EndpointUrl unset, the s3:// listing client takes
    $AWS_ENDPOINT_URL_S3 through boto3's own resolution, so the
    compiler need not read it; an explicit S3EndpointUrl wins."""
    from baker_spark.sources.list_source import ListSource

    monkeypatch.setenv("AWS_ENDPOINT_URL_S3", "http://localhost:4566")
    src = ListSource(files=[], fields=["f0"])
    assert src._s3_client("s3://b/").meta.endpoint_url == "http://localhost:4566"
    src = ListSource(files=[], fields=["f0"], s3_endpoint_url="http://localhost:9000")
    assert src._s3_client("s3://b/").meta.endpoint_url == "http://localhost:9000"


def test_s3_writer_fence_conditional_put_race(spark, endpoint, monkeypatch):
    """VERDICT r11 next-round #7: the S3 fence leg is a TRUE atomic
    create-if-absent — PutObject If-None-Match:* rejected 412
    server-side — so of N acquirers racing through a barrier exactly
    one wins even when their PUTs land in the same instant (the old
    check-then-put caught only sequenced doubles). Runs the real boto3
    wire path against moto; also pins holder readability, the
    crashed-writer story (marker survives, next acquire fails loud,
    break_fence repairs), and release leaving the path unfenced."""
    import threading

    from baker_spark.datapipe import artifacts

    monkeypatch.setenv("AWS_ENDPOINT_URL_S3", endpoint)
    bucket = f"fence-{uuid.uuid4().hex[:8]}"
    boto3.client("s3", region_name="us-east-1", endpoint_url=endpoint).create_bucket(
        Bucket=bucket
    )
    path = f"s3://{bucket}/artifacts/ann_index"

    n = 6
    barrier = threading.Barrier(n)
    outcomes: list[str] = []
    lock = threading.Lock()

    def contender(i: int) -> None:
        barrier.wait()
        try:
            with artifacts.writer_fence(spark, path, f"racer-{i}"):
                with lock:
                    outcomes.append("won")
                time.sleep(0.3)
        except artifacts.ConcurrentWriterError:
            with lock:
                outcomes.append("lost")

    threads = [threading.Thread(target=contender, args=(i,)) for i in range(n)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert sorted(outcomes) == ["lost"] * (n - 1) + ["won"], outcomes
    assert artifacts.fence_holder(spark, path) is None  # released

    # crashed writer: marker left behind -> holder identity readable,
    # next acquire fails naming it, break_fence repairs
    fence = artifacts.writer_fence(spark, path, "daemon-A")
    fence.__enter__()  # never exited — the crash
    holder = artifacts.fence_holder(spark, path)
    assert holder and holder["op"] == "daemon-A"
    with pytest.raises(artifacts.ConcurrentWriterError, match="daemon-A"):
        with artifacts.writer_fence(spark, path, "daemon-B"):
            pass
    assert artifacts.break_fence(spark, path)["op"] == "daemon-A"
    with artifacts.writer_fence(spark, path, "daemon-B"):
        assert artifacts.fence_holder(spark, path)["op"] == "daemon-B"
    assert artifacts.fence_holder(spark, path) is None
