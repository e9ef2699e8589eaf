"""Kinesis connector schema fidelity: the parse path is exercised
against the real spark-sql-kinesis column layout
(data/streamName/partitionKey/sequenceNumber/approximateArrivalTimestamp)
— the stream the reference consumes via GetRecords and splits on
newlines (/root/reference/input/kinesis.go:145-150)."""

from datetime import datetime

from baker_spark.streaming.connectors import (
    KINESIS_RECORD_SCHEMA,
    KinesisPythonSource,
    kinesis_records,
)


def _record(data: bytes, pk: str = "0", seq: str = "1"):
    return (
        bytearray(data),
        "events-stream",
        pk,
        seq,
        datetime(2024, 3, 1, 12, 0, 0),
    )


def test_kinesis_records_splits_blobs_and_lines(spark):
    """One Kinesis record may carry MANY newline-separated log lines
    (kinesis.go:145: bytes.Count of '\\n' per Data blob); trailing
    newlines must not produce empty records."""
    df = spark.createDataFrame(
        [
            _record(b"1,click,u1\n2,view,u2\n", pk="a"),  # two lines + trailing \n
            _record(b"3,click,u3", pk="b"),  # single line, no terminator
        ],
        KINESIS_RECORD_SCHEMA,
    )
    out = kinesis_records(df, fields=["id", "etype", "user"]).collect()
    assert [(r.id, r.etype, r.user) for r in out] == [
        ("1", "click", "u1"),
        ("2", "view", "u2"),
        ("3", "click", "u3"),
    ]


def test_kinesis_records_keeps_arrival_timestamp_when_asked(spark):
    df = spark.createDataFrame([_record(b"1,click,u1")], KINESIS_RECORD_SCHEMA)
    out = kinesis_records(df, fields=["id", "etype", "user"], arrival_ts="arrived_at").collect()
    assert out[0].arrived_at == datetime(2024, 3, 1, 12, 0, 0)
    assert out[0].id == "1"


def test_kinesis_records_short_line_gives_null_fields_under_ansi(spark):
    """A line with fewer fields than [fields] gets NULL trailing fields,
    as the List input gives — also with ANSI mode on, where element_at
    would raise INVALID_ARRAY_INDEX_IN_ELEMENT_AT instead."""
    df = spark.createDataFrame([_record(b"1,click\n2,view,u2,extra")], KINESIS_RECORD_SCHEMA)
    before = spark.conf.get("spark.sql.ansi.enabled")
    spark.conf.set("spark.sql.ansi.enabled", "true")
    try:
        out = kinesis_records(df, fields=["id", "etype", "user"]).collect()
    finally:
        spark.conf.set("spark.sql.ansi.enabled", before)
    assert [(r.id, r.etype, r.user) for r in out] == [
        ("1", "click", None),
        ("2", "view", "u2"),
    ]


def test_streaming_parse_off_connector_layout(spark, tmp_path):
    """A streaming query over the exact connector layout (a parquet
    file stream) through kinesis_records — the end-to-end parse
    contract."""
    src_dir = tmp_path / "kin"
    src_dir.mkdir()
    spark.createDataFrame(
        [_record(b"1,click,u1\n2,view,u2\n"), _record(b"3,click,u3")],
        KINESIS_RECORD_SCHEMA,
    ).write.parquet(str(src_dir / "batch0"))

    stream = spark.readStream.schema(KINESIS_RECORD_SCHEMA).parquet(str(src_dir / "*"))
    parsed = kinesis_records(stream, fields=["id", "etype", "user"], arrival_ts="arrived_at")
    q = parsed.writeStream.format("memory").queryName("kin_out").outputMode("append").start()
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT id, etype, arrived_at FROM kin_out ORDER BY id").collect()
        assert [r.id for r in rows] == ["1", "2", "3"]
        assert all(r.arrived_at == datetime(2024, 3, 1, 12, 0, 0) for r in rows)
    finally:
        q.stop()


def test_toml_kinesis_compiles_to_parsed_record_source():
    from baker_spark.plans import compile_toml

    plan = compile_toml(
        """
[fields]
names = ["id", "etype", "user"]

[input]
name = "Kinesis"
  [input.config]
  Stream = "events-stream"
  AwsRegion = "us-east-1"

[output]
name = "Nop"
"""
    )
    src = plan.source
    assert isinstance(src, KinesisPythonSource)
    assert src.fields == ["id", "etype", "user"]
    assert src.stream == "events-stream"
    assert src.aws_region == "us-east-1"


def test_toml_kcl_validates_like_the_reference():
    """kcl.go:54-62: AppName [A-Za-z0-9_]+ required; InitialPosition
    LATEST|TRIM_HORIZON only. AppName scopes the checkpoint dir the way
    the KCL lease table is scoped."""
    import pytest

    from baker_spark.plans import compile_toml

    base = """
[fields]
names = ["id", "etype", "user"]

[input]
name = "KCL"
  [input.config]
  Stream = "events-stream"
  AppName = "{app}"
  InitialPosition = "{pos}"

[output]
name = "Nop"
"""
    plan = compile_toml(base.format(app="my_app_1", pos="TRIM_HORIZON"))
    src = plan.source
    assert src.app_name == "my_app_1"
    assert src.initial_position == "TRIM_HORIZON"
    assert src.checkpoint_dir("/ckpt") == "/ckpt/my_app_1"

    with pytest.raises(ValueError, match="invalid 'AppName'"):
        compile_toml(base.format(app="bad app!", pos="LATEST"))
    with pytest.raises(ValueError, match="invalid 'AppName'"):
        compile_toml(base.format(app="", pos="LATEST"))
    with pytest.raises(ValueError, match="invalid 'InitialPosition'"):
        compile_toml(base.format(app="ok_app", pos="YESTERDAY"))


# ------------------------- bakerkinesis Python streaming data source ----
# (kinesis.go:58-66 + kcl.go:27-49 semantics as executable code — shard
# -> partition, sequence-number offsets in the checkpoint WAL, fake
# client over a spool directory)

import pytest


@pytest.fixture()
def kstream(spark, tmp_path):
    from baker_spark.streaming.kinesis_datasource import DirStreamClient, register

    root = tmp_path / "kin"
    root.mkdir()
    register(spark)
    client = DirStreamClient(str(root))
    queries = []

    def start(name=None, checkpoint=None, **opts):
        import os, time
        name = name or f"kin_mem_{len(queries)}_{os.getpid()}_{time.time_ns()}"
        reader = (
            spark.readStream.format("bakerkinesis")
            .option("fake_dir", str(root))
            .option("stream", "events")
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        w = reader.load().writeStream.format("memory").queryName(name)
        if checkpoint:
            w = w.option("checkpointLocation", checkpoint)
        q = w.start()
        queries.append(q)
        return q, name

    yield client, start
    for q in queries:
        q.stop()


def test_kinesis_source_microbatch_loop(spark, kstream):
    """Records put across two triggers arrive exactly once, with the
    aws-kinesis connector layout (data/streamName/partitionKey/
    sequenceNumber/arrival ts) intact: the reader's schema IS
    KINESIS_RECORD_SCHEMA."""
    client, start = kstream
    client.put_record("events", b"a,1\nb,2\n", "pk0", Ts=42.0)
    q, name = start(initial_position="TRIM_HORIZON")
    q.processAllAvailable()
    client.put_record("events", b"c,3", "pk1")
    q.processAllAvailable()
    df = spark.sql(f"SELECT * FROM {name} ORDER BY sequenceNumber")
    assert [(f.name, f.dataType) for f in df.schema] == [
        (f.name, f.dataType) for f in KINESIS_RECORD_SCHEMA
    ]
    rows = df.collect()
    assert [bytes(r.data) for r in rows] == [b"a,1\nb,2\n", b"c,3"]
    assert [r.partitionKey for r in rows] == ["pk0", "pk1"]
    assert [r.sequenceNumber for r in rows] == ["0", "1"]
    assert rows[0].streamName == "events"
    assert rows[0].approximateArrivalTimestamp == datetime(1970, 1, 1, 0, 0, 42)


def test_kinesis_source_parses_through_kinesis_records(spark, kstream):
    """The source composes with the connector-agnostic parse: blobs ->
    newline-split lines -> positional fields."""
    client, start = kstream
    client.put_record("events", b"x,9\ny,8\n", "pk")
    q, name = start(initial_position="TRIM_HORIZON")
    q.processAllAvailable()
    parsed = kinesis_records(spark.sql(f"SELECT * FROM {name}"), ["k", "v"])
    assert sorted((r.k, r.v) for r in parsed.collect()) == [("x", "9"), ("y", "8")]


def test_kinesis_source_latest_skips_preexisting(spark, kstream):
    """InitialPosition=LATEST (the tail contract, kinesis.go:111): only
    records put AFTER the stream starts surface."""
    client, start = kstream
    client.put_record("events", b"old", "pk")
    q, name = start()  # default LATEST
    q.processAllAvailable()
    client.put_record("events", b"new", "pk")
    q.processAllAvailable()
    assert [bytes(r.data) for r in spark.sql(f"SELECT * FROM {name}").collect()] == [b"new"]


def test_kinesis_source_shards_fan_out_and_reshard(spark, kstream):
    """One input partition per shard; a shard created mid-stream (the
    resharding case, kinesis.go refreshShards) is picked up at its
    initial position."""
    client, start = kstream
    client.put_record("events", b"s0-r0", "pk", ShardId="shardId-000000000000")
    client.put_record("events", b"s1-r0", "pk", ShardId="shardId-000000000001")
    q, name = start(initial_position="TRIM_HORIZON")
    q.processAllAvailable()
    client.put_record("events", b"s2-r0", "pk", ShardId="shardId-000000000002")
    q.processAllAvailable()
    got = sorted(bytes(r.data) for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got == [b"s0-r0", b"s1-r0", b"s2-r0"]


def test_kinesis_source_checkpoint_resume(spark, kstream, tmp_path):
    """Stop/restart against the same checkpoint continues from the
    journaled sequence numbers — KCL's lease-table resume without the
    DynamoDB sidecar — with no duplicates."""
    client, start = kstream
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_query():
        return (
            spark.readStream.format("bakerkinesis")
            .option("fake_dir", client.root)
            .option("stream", "events")
            .option("initial_position", "TRIM_HORIZON")
            .load()
            .selectExpr("CAST(data AS STRING) AS v")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    client.put_record("events", b"r1", "pk")
    q1 = run_query()
    q1.processAllAvailable()
    q1.stop()
    client.put_record("events", b"r2", "pk")
    q2 = run_query()
    q2.processAllAvailable()
    q2.stop()
    got = sorted(r.v for r in spark.read.json(out).collect())
    assert got == ["r1", "r2"]


def test_kinesis_source_max_records_per_trigger(spark, kstream):
    """Admission cap: a backlog drains across micro-batches, all
    records exactly once (Kafka's maxOffsetsPerTrigger analog)."""
    client, start = kstream
    for i in range(10):
        client.put_record("events", f"r{i}".encode(), "pk")
    q, name = start(initial_position="TRIM_HORIZON", max_records_per_trigger="3")
    q.processAllAvailable()
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert sorted(bytes(r.data) for r in rows) == sorted(f"r{i}".encode() for i in range(10))
    assert len({r.sequenceNumber for r in rows}) == 10


def test_kinesis_source_rejects_bad_initial_position(spark, kstream):
    from baker_spark.streaming.kinesis_datasource import KinesisStreamReader

    with pytest.raises(ValueError, match="LATEST|TRIM_HORIZON"):
        KinesisStreamReader({"fake_dir": "/tmp/x", "initial_position": "AT_DAWN"})


def test_toml_kinesis_defaults_to_python_source_and_runs(spark, tmp_path):
    """[input] name='Kinesis' compiles to the jar-free bakerkinesis
    source — and actually RUNS a micro-batch end to end via the
    fake_dir spool. The retired Connector key fails at compile time."""
    from baker_spark.plans import compile_toml
    from baker_spark.streaming.kinesis_datasource import DirStreamClient

    root = tmp_path / "kin"
    root.mkdir()
    client = DirStreamClient(str(root))
    client.put_record("events-stream", b"7,click,u7\n8,view,u8", "pk")

    plan = compile_toml(
        f"""
[fields]
names = ["id", "etype", "user"]

[input]
name = "Kinesis"
  [input.config]
  Stream = "events-stream"
  InitialPosition = "TRIM_HORIZON"
  FakeDir = "{root}"

[output]
name = "Nop"
"""
    )
    src = plan.source
    assert isinstance(src, KinesisPythonSource)
    parsed = src.dataframe(spark)
    name = f"toml_kin_{id(plan)}"
    q = parsed.writeStream.format("memory").queryName(name).start()
    try:
        q.processAllAvailable()
        rows = sorted((r.id, r.etype, r.user)
                      for r in spark.sql(f"SELECT * FROM {name}").collect())
        assert rows == [("7", "click", "u7"), ("8", "view", "u8")]
    finally:
        q.stop()

    # the jar connector is gone: its opt-in key fails loudly
    with pytest.raises(ValueError, match="Connector has no replacement"):
        compile_toml(
            """
[fields]
names = ["id"]

[input]
name = "Kinesis"
  [input.config]
  Stream = "s"
  Connector = "jar"

[output]
name = "Nop"
"""
        )


def test_kinesis_restart_with_backlog_past_budget_resumes_exact_with_lease(
    spark, kstream, tmp_path
):
    """The committed backlog exceeds one trigger budget, then the query
    restarts. A budget-bounded TRIM_HORIZON re-probe from 0 would stop
    BELOW the committed offset (the regressed-end restart bug); with the
    lease_dir journal (the KCL lease-table analog) the restarted reader
    seeds its tips at the committed positions and resume is exact — no
    duplicates, no loss."""
    client, _ = kstream
    ckpt = str(tmp_path / "ckpt")
    lease = str(tmp_path / "lease")
    out = str(tmp_path / "out")

    def run_query():
        return (
            spark.readStream.format("bakerkinesis")
            .option("fake_dir", client.root)
            .option("stream", "events")
            .option("initial_position", "TRIM_HORIZON")
            .option("max_records_per_trigger", "5")
            .option("lease_dir", lease)
            .load()
            .selectExpr("CAST(data AS STRING) AS v")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    for i in range(20):
        client.put_record("events", f"r{i:02d}".encode(), "pk")
    q1 = run_query()
    q1.processAllAvailable()
    q1.stop()
    for i in range(20, 25):
        client.put_record("events", f"r{i:02d}".encode(), "pk")
    q2 = run_query()
    q2.processAllAvailable()
    q2.stop()
    got = sorted(r.v for r in spark.read.json(out).collect())
    assert got == [f"r{i:02d}" for i in range(25)]  # exactly once


def test_kinesis_restart_without_lease_loses_nothing(spark, kstream, tmp_path):
    """Same restart-past-budget shape WITHOUT a lease: the documented
    contract degrades to at-least-once (the WAL-journaled regressed end
    re-admits up to one probe window) but must never LOSE records, and
    the partitions() tip-healing must keep every record's dup count
    bounded by one extra admission."""
    client, _ = kstream
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")

    def run_query():
        return (
            spark.readStream.format("bakerkinesis")
            .option("fake_dir", client.root)
            .option("stream", "events")
            .option("initial_position", "TRIM_HORIZON")
            .option("max_records_per_trigger", "5")
            .load()
            .selectExpr("CAST(data AS STRING) AS v")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    for i in range(12):
        client.put_record("events", f"r{i:02d}".encode(), "pk")
    q1 = run_query()
    q1.processAllAvailable()
    q1.stop()
    for i in range(12, 15):
        client.put_record("events", f"r{i:02d}".encode(), "pk")
    q2 = run_query()
    q2.processAllAvailable()
    q2.stop()
    got = [r.v for r in spark.read.json(out).collect()]
    assert set(got) == {f"r{i:02d}" for i in range(15)}  # no loss
    from collections import Counter

    assert max(Counter(got).values()) <= 2  # at-least-once, bounded


def test_kinesis_new_shard_under_latest_tails_from_discovery(spark, kstream):
    """A shard discovered mid-stream under LATEST starts at ITS tip
    (the journaled discovery seed): its pre-existing backlog must not
    be admitted — previously the shard was absent from the start offset,
    defaulted to -1, and its whole history landed in one uncapped
    batch."""
    client, start = kstream
    client.put_record("events", b"s0-live", "pk", ShardId="shardId-000000000000")
    q, name = start()  # LATEST
    q.processAllAvailable()
    # new shard appears already holding a backlog
    for i in range(3):
        client.put_record(
            "events", f"s1-pre{i}".encode(), "pk", ShardId="shardId-000000000001"
        )
    q.processAllAvailable()
    # only records put AFTER discovery surface
    client.put_record("events", b"s1-post", "pk", ShardId="shardId-000000000001")
    client.put_record("events", b"s0-post", "pk", ShardId="shardId-000000000000")
    q.processAllAvailable()
    got = sorted(bytes(r.data) for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got == [b"s0-post", b"s1-post"]


def test_read_pages_through_empty_getrecords_pages():
    """Real Kinesis legitimately returns Records=[] with a live
    NextShardIterator mid-shard; read() must page on (while
    MillisBehindLatest > 0) instead of silently truncating the planned
    slice whose offsets the WAL already committed — and must fail
    LOUDLY when the empty pages never end (trimmed shard), never drop."""
    import pytest

    from baker_spark.streaming import kinesis_datasource as K

    class EmptyPageClient:
        """3 records at seqs 0-2, but every OTHER page is empty with
        MillisBehindLatest > 0 — the mid-shard empty-page behavior."""

        def __init__(self):
            self.calls = 0

        def get_shard_iterator(self, **kw):
            return {"ShardIterator": "0"}

        def get_records(self, ShardIterator, Limit=10000):
            self.calls += 1
            pos = int(ShardIterator)
            if self.calls % 2 == 1:  # odd calls: empty page, more behind
                return {"Records": [], "NextShardIterator": str(pos),
                        "MillisBehindLatest": 5000}
            recs = [
                {"Data": f"r{i}".encode(), "PartitionKey": "p",
                 "SequenceNumber": str(i)}
                for i in range(pos, min(pos + 1, 3))
            ]
            return {
                "Records": recs,
                "NextShardIterator": str(pos + len(recs)),
                "MillisBehindLatest": 5000 if pos + len(recs) < 3 else 0,
            }

    reader = K.KinesisStreamReader({"fake_dir": "/tmp/unused", "stream": "s"})
    client = EmptyPageClient()
    reader_read = K.KinesisStreamReader.read

    # route _make_client to the scripted client (driver-side call)
    orig = K._make_client
    K._make_client = lambda options: client
    try:
        part = K._ShardSlice("shard-0", -1, 2)
        rows = list(reader_read(reader, part))
        assert [bytes(r[0]).decode() for r in rows] == ["r0", "r1", "r2"]

        class TrimmedClient(EmptyPageClient):
            def get_records(self, ShardIterator, Limit=10000):
                return {"Records": [], "NextShardIterator": "0",
                        "MillisBehindLatest": 5000}

        K._make_client = lambda options: TrimmedClient()
        with pytest.raises(RuntimeError, match="refusing to silently drop"):
            # cap the loud-failure loop so the test is fast
            import unittest.mock as mock

            with mock.patch.object(K.time, "sleep"):
                list(reader_read(reader, K._ShardSlice("shard-0", -1, 2)))
    finally:
        K._make_client = orig


def test_shard_filter_splits_stream_across_jobs(spark, kstream):
    """Static shard ownership (MIGRATION.md's multi-job recipe): two
    readers with DISJOINT shard_filter lists jointly cover the stream
    with no overlap — the Spark-native replacement for KCL's
    competing-worker lease rebalancing."""
    client, start = kstream
    client.put_record("events", b"s0-a", "pk", ShardId="shardId-000000000000")
    client.put_record("events", b"s1-a", "pk", ShardId="shardId-000000000001")
    client.put_record("events", b"s2-a", "pk", ShardId="shardId-000000000002")

    qa, na = start(
        initial_position="TRIM_HORIZON",
        shard_filter="shardId-000000000000,shardId-000000000002",
    )
    qb, nb = start(
        initial_position="TRIM_HORIZON", shard_filter="shardId-000000000001"
    )
    qa.processAllAvailable()
    qb.processAllAvailable()
    got_a = sorted(bytes(r.data) for r in spark.sql(f"SELECT * FROM {na}").collect())
    got_b = sorted(bytes(r.data) for r in spark.sql(f"SELECT * FROM {nb}").collect())
    assert got_a == [b"s0-a", b"s2-a"]
    assert got_b == [b"s1-a"]

    # later records keep flowing to their owner only
    client.put_record("events", b"s1-b", "pk", ShardId="shardId-000000000001")
    qa.processAllAvailable()
    qb.processAllAvailable()
    assert b"s1-b" not in sorted(
        bytes(r.data) for r in spark.sql(f"SELECT * FROM {na}").collect()
    )
    assert sorted(bytes(r.data) for r in spark.sql(f"SELECT * FROM {nb}").collect()) == [
        b"s1-a",
        b"s1-b",
    ]


def test_describe_stream_pagination_plans_every_shard(tmp_path):
    """describe_stream returns at most 100 shards per call; a stream
    past one page must still plan EVERY shard (a single call silently
    lost everything after the first page)."""
    from baker_spark.streaming import kinesis_datasource as K

    class PagingClient(K.DirStreamClient):
        PAGE = 2

        def describe_stream(self, StreamName, ExclusiveStartShardId=None):
            all_ = super().describe_stream(StreamName)["StreamDescription"]["Shards"]
            names = [s["ShardId"] for s in all_]
            start = 0
            if ExclusiveStartShardId is not None:
                start = names.index(ExclusiveStartShardId) + 1
            page = all_[start : start + self.PAGE]
            return {
                "StreamDescription": {
                    "Shards": page,
                    "HasMoreShards": start + self.PAGE < len(all_),
                }
            }

    root = str(tmp_path / "shards")
    import os as _os

    _os.makedirs(root)
    client = PagingClient(root)
    for i in range(5):  # 3 pages at PAGE=2
        client.put_record("s", b"x", "pk", ShardId=f"shardId-00000000000{i}")

    reader = K.KinesisStreamReader({"fake_dir": root, "stream": "s"})
    reader._client = client
    assert len(reader._shards()) == 5


def test_budget_rotation_unstarves_late_shards(tmp_path):
    """max_records_per_trigger is a SHARED budget: with a hot first
    shard and fixed iteration order, later shards' tips never advanced.
    The rotating head must let every shard drink within a cycle."""
    from baker_spark.streaming import kinesis_datasource as K

    root = str(tmp_path / "shards")
    import os as _os

    _os.makedirs(root)
    client = K.DirStreamClient(root)
    for i in range(40):
        client.put_record("s", f"a{i}".encode(), "pk", ShardId="shardId-000000000000")
        client.put_record("s", f"b{i}".encode(), "pk", ShardId="shardId-000000000001")

    reader = K.KinesisStreamReader(
        {
            "fake_dir": root,
            "stream": "s",
            "initial_position": "TRIM_HORIZON",
            "max_records_per_trigger": "10",
        }
    )
    reader._client = client
    reader.initialOffset()
    reader.latestOffset()  # budget goes to shard 0 first
    reader.latestOffset()  # rotation puts shard 1 first
    tips = dict(reader._tips)
    assert tips["shardId-000000000000"] >= 0
    assert tips["shardId-000000000001"] >= 0, tips
