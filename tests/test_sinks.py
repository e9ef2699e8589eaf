"""Sink tests: Stats report, SQLite writer, DynamoDB batching logic
(with a fake client — mirrors the reference's sqsiface/s3iface fakes,
SURVEY.md §5)."""

import os
import sqlite3

from pyspark.sql import Row

from baker_spark.sinks.dynamodb import DynamoDBWriter, write_batches
from baker_spark.sinks.sqlite import SQLiteWriter
from baker_spark.sinks.stats import Stats


def test_stats_report(spark):
    df = spark.createDataFrame(
        [Row(f1="a", ts="100"), Row(f1="a", ts="200"), Row(f1="b", ts="300")]
    )
    stats = Stats(fields=["f1"], timestamp_field="ts", exact=True, quantiles=[0.5])
    report = stats.write(df)
    assert report["sizes"]["n"] == 3
    freq = {r["value"]: r["n"] for r in report["freq:f1"]}
    assert freq == {"a": 2, "b": 1}
    assert report["times"]["min_ts"] == 100 and report["times"]["max_ts"] == 300
    assert report["times"]["ts_quantiles"] == [200.0]


def test_stats_csv_report_golden(spark, tmp_path):
    """The reference's CSV report shape (output/stats.go:319-333):
    section banners + header/data row pairs for sizes, timestamps and
    each tracked field, with the per-field distribution over value
    FREQUENCIES and the literal '%%ile' header quirk kept bug-for-bug.
    Golden-compared with exact=True so percentiles are deterministic."""
    df = spark.createDataFrame(
        [Row(f1="a", ts="100"), Row(f1="a", ts="200"), Row(f1="b", ts="x")]
    )
    stats = Stats(fields=["f1"], timestamp_field="ts", exact=True)
    path = str(tmp_path / "stats.csv")
    text = stats.write_csv(df, path)
    assert open(path).read() == text
    qh = (
        "1st %%ile,5th %%ile,10th %%ile,25th %%ile,50th %%ile,"
        "75th %%ile,90th %%ile,95th %%ile,99th %%ile"
    )
    # rows serialize as "f1,ts" -> "a,100"(5B) "a,200"(5B) "b,x"(3B)
    golden_sizes = [
        "section,log line sizes,distribution of log lines sizes",
        f"num samples (log lines),errors,total bytes,smallest,{qh},biggest",
        # rows are 5, 5 and 3 bytes; exact interpolated percentiles
        "3,0,13,3,3.04,3.2,3.4000000000000004,4,5,5,5,5,5,5",
    ]
    lines = text.splitlines()
    assert lines[0:3] == golden_sizes
    # timestamp percentile cells are exact-interpolated then truncated
    # to whole seconds; assert the counters + bounds instead of
    # hand-computing nine interpolations
    assert lines[3] == "section,timestamps,distribution of timestamps"
    assert lines[4] == f"num timestamps (valid+invalid+empty),num errors,num empty,first,{qh},last"
    tcells = lines[5].split(",")
    assert tcells[0:3] == ["2", "1", "0"]  # 2 valid, 1 Atoi error, 0 empty
    assert tcells[3] == "1970-01-01 00:01:40 +0000 UTC"  # first = ts 100
    assert tcells[-1] == "1970-01-01 00:03:20 +0000 UTC"  # last = ts 200
    assert lines[6] == "section,f1,distribution of number of log lines per distinct f1 value"
    assert lines[7] == f"num samples (f1),smallest,{qh},biggest"
    fcells = lines[8].split(",")
    # 2 distinct values; freqs {a:2, b:1} -> smallest 1, biggest 2
    assert fcells[0] == "2" and fcells[1] == "1" and fcells[-1] == "2"

    # csv_path-configured write() (the TOML CSVPath key) emits the same
    # report alongside the dict, off the one shared cache
    path2 = str(tmp_path / "auto.csv")
    Stats(fields=["f1"], timestamp_field="ts", exact=True, csv_path=path2).write(df)
    assert open(path2).read() == text


def test_sqlite_writer(spark, tmp_path):
    db = str(tmp_path / "out.sqlite3")
    df = spark.createDataFrame([Row(a="1", b="x"), Row(a="2", b="y")])
    SQLiteWriter(path=db, table="t", post_run=["CREATE INDEX idx_a ON t(a)"]).write(df)
    con = sqlite3.connect(db)
    rows = sorted(con.execute("SELECT a, b FROM t").fetchall())
    assert rows == [("1", "x"), ("2", "y")]
    # post-run hook executed
    assert con.execute("SELECT count(*) FROM sqlite_master WHERE name='idx_a'").fetchone()[0] == 1
    con.close()


def test_sqlite_raw_column(spark, tmp_path):
    db = str(tmp_path / "raw.sqlite3")
    df = spark.createDataFrame([Row(a="1", b="x")])
    SQLiteWriter(path=db, table="t", raw_column=True).write(df)
    con = sqlite3.connect(db)
    assert con.execute("SELECT _record FROM t").fetchone()[0] == "1,x"
    con.close()


class FakeDynamo:
    """Fake batch_write_item: records requests, fails the first batch once
    (exercises the UnprocessedItems retry path, dyndb.go:366-389)."""

    def __init__(self, fail_first=False):
        self.items = []
        self.calls = 0
        self.fail_first = fail_first

    def batch_write_item(self, RequestItems):
        self.calls += 1
        (table, puts), = RequestItems.items()
        if self.fail_first and self.calls == 1:
            # process none, return everything unprocessed
            return {"UnprocessedItems": {table: puts}}
        self.items.extend(p["PutRequest"]["Item"] for p in puts)
        return {"UnprocessedItems": {}}


def test_dynamodb_batching_and_types():
    rows = [{"pk": str(i), "n_col": str(i * 2)} for i in range(60)]
    client = FakeDynamo()
    stats = write_batches(
        rows, table="t", columns=["pk", "n_col"], types=["s", "n"], clients=[client]
    )
    assert stats["written"] == 60
    assert client.calls == 3  # 25 + 25 + 10
    assert client.items[0] == {"pk": {"S": "0"}, "n_col": {"N": "0"}}


def test_dynamodb_dup_pk_skip_and_retry():
    rows = [{"pk": "same"}, {"pk": "same"}, {"pk": "other"}]
    client = FakeDynamo(fail_first=True)
    stats = write_batches(rows, table="t", columns=["pk"], types=["s"], clients=[client])
    assert stats["skipped_dup_pk"] == 1
    assert stats["retries"] == 1
    assert stats["written"] == 2


def test_dynamodb_writer_with_fake_client(spark):
    df = spark.createDataFrame([Row(pk="a", v="1"), Row(pk="b", v="2")]).coalesce(1)
    collected = []

    class Holder(FakeDynamo):
        def batch_write_item(self, RequestItems):
            r = super().batch_write_item(RequestItems)
            collected.extend(self.items)
            return r

    writer = DynamoDBWriter(
        table="t", columns=["s:pk", "s:v"], client_factory=lambda regions: [Holder()]
    )
    writer.write(df)
    # foreachPartition runs on executors; rows reached the fake client
    # (collected is driver-side only in local mode, so just assert no error
    # and the column validation path)
    assert writer._names == ["pk", "v"] and writer._types == ["s", "s"]


def test_websocket_sink(spark):
    from pyspark.sql import Row

    from baker_spark.sinks.simple import WebSocketSink

    df = spark.createDataFrame([Row(a="x", b=1), Row(a="y", b=2)])
    pushed = []
    sink = WebSocketSink(send_fn=pushed.append, fields=["a"])
    n = sink.write(df)
    assert n == 2
    import json

    assert sorted(json.loads(p)["a"] for p in pushed) == ["x", "y"]


# ------------------------------------------------- FileWriter templates


def test_parse_path_template_reference_default():
    from baker_spark.sinks.filewriter import parse_path_template

    # the reference's default PathString (filewriter.go:107)
    base, time_parts, field0 = parse_path_template(
        "/tmp/baker/ologs/logs/{{.Year}}/{{.Month}}/{{.Day}}/baker/"
        "{{.Year}}{{.Month}}{{.Day}}-{{.Hour}}{{.Minute}}{{.Second}}.{{.Index}}.log.gz"
    )
    assert base == "/tmp/baker/ologs/logs"
    assert time_parts == ["Year", "Month", "Day", "Hour", "Minute", "Second"]
    assert field0 is False


def test_parse_path_template_field0_and_unknown():
    import pytest

    from baker_spark.sinks.filewriter import parse_path_template

    base, time_parts, field0 = parse_path_template(
        "/out/{{.Field0}}/file-{{.Rotation}}.log.gz"
    )
    assert (base, time_parts, field0) == ("/out", [], True)
    with pytest.raises(ValueError, match="unknown FileWriter path placeholders"):
        parse_path_template("/out/{{.Yearr}}/x.gz")


def test_filewriter_event_time_partitions(spark, tmp_path):
    """timestamp_field drives year=/month=/day= dirs; both datetime text
    and epoch-seconds strings (the Timestamp filter's output) work."""
    from baker_spark.sinks.filewriter import FileWriter

    df = spark.createDataFrame(
        [
            ("2024-03-01 12:34:56", "a"),
            ("2024-03-01 23:59:59", "b"),
            ("1719792000", "c"),  # epoch seconds; expected date computed below
        ],
        ["ts", "v"],
    )
    out = str(tmp_path / "out")
    FileWriter(
        path=out, time_partitions=["Year", "Month", "Day"], timestamp_field="ts"
    ).write(df)
    dirs = set()
    for root, _, files in os.walk(out):
        for f in files:
            if f.endswith(".csv.gz"):
                dirs.add(os.path.relpath(root, out))
    assert "year=2024/month=03/day=01" in dirs
    # epoch row landed under its own UTC date
    import datetime as _dt

    d = _dt.datetime.fromtimestamp(1719792000, _dt.timezone.utc)
    assert f"year={d:%Y}/month={d:%m}/day={d:%d}" in dirs
    # partition values round-trip through a Spark read
    back = spark.read.option("basePath", out).csv(out + "/year=2024/month=03/day=01")
    assert back.count() == 2


def test_filewriter_batch_clock_partitions(spark, tmp_path):
    """Without timestamp_field the layout uses the (injectable) batch
    clock — the reference's evaluate-at-file-creation semantics."""
    import datetime as _dt

    from baker_spark.sinks.filewriter import FileWriter

    df = spark.createDataFrame([("r1",), ("r2",)], ["v"])
    out = str(tmp_path / "out")
    FileWriter(
        path=out,
        time_partitions=["Year", "Month", "Day", "Hour"],
        batch_time=_dt.datetime(2023, 12, 31, 23, 0, 0),
    ).write(df)
    assert os.path.isdir(os.path.join(out, "year=2023/month=12/day=31/hour=23"))


def test_dynamodb_rate_limit_admits_full_batches():
    """take(25) with MaxWritesPerSec < 25 must WAIT, not hang: the burst
    cap admits the request size (a 25-item batch at a low rate is
    legitimate — the old cap of min(rate, ...) spun forever)."""
    import time as _time

    rows = [{"pk": str(i)} for i in range(25)]
    client = FakeDynamo()
    t0 = _time.monotonic()
    stats = write_batches(
        rows, table="t", columns=["pk"], types=["s"], clients=[client],
        max_writes_per_sec=100,
    )
    assert stats["written"] == 25
    assert _time.monotonic() - t0 < 5  # finished, didn't spin


class _FakeClientError(Exception):
    """Shaped like botocore.exceptions.ClientError for _err_code()."""

    def __init__(self, code):
        super().__init__(code)
        self.response = {"Error": {"Code": code}}


class FakeDynamoConditional:
    """Fake put_item honoring attribute_not_exists(#pk): a tiny
    in-memory table keyed by the PK's typed value, plus an optional
    one-shot throttle to exercise the conditional-put retry path."""

    def __init__(self, throttle_first=False):
        self.table: dict = {}
        self.puts = 0
        self.throttle_first = throttle_first

    def put_item(self, TableName, Item, ConditionExpression=None,
                 ExpressionAttributeNames=None):
        self.puts += 1
        if self.throttle_first and self.puts == 1:
            raise _FakeClientError("ProvisionedThroughputExceededException")
        assert ConditionExpression == "attribute_not_exists(#pk)"
        pk = ExpressionAttributeNames["#pk"]
        key = tuple(sorted(Item[pk].items()))
        if key in self.table:
            raise _FakeClientError("ConditionalCheckFailedException")
        self.table[key] = Item


def test_dynamodb_strict_once_replay_first_writer_wins():
    """strict_once=True: a task replay carrying DIFFERENT values for an
    already-landed PK is refused per item (first-writer-wins), counted
    in skipped_existing — where default batch mode would overwrite."""
    client = FakeDynamoConditional()
    first = write_batches(
        [{"pk": "a", "v": "1"}, {"pk": "b", "v": "1"}],
        table="t", columns=["pk", "v"], types=["s", "s"],
        clients=[client], strict_once=True,
    )
    assert first["written"] == 2 and first["skipped_existing"] == 0
    # the replay: same PKs, different (non-deterministic) values + one new
    replay = write_batches(
        [{"pk": "a", "v": "2"}, {"pk": "b", "v": "2"}, {"pk": "c", "v": "2"}],
        table="t", columns=["pk", "v"], types=["s", "s"],
        clients=[client], strict_once=True,
    )
    assert replay["written"] == 1 and replay["skipped_existing"] == 2
    assert client.table[(("S", "a"),)]["v"] == {"S": "1"}  # first write held
    assert client.table[(("S", "c"),)]["v"] == {"S": "2"}


def test_dynamodb_strict_once_throttle_retries_like_batch_mode():
    """Throttling on a conditional put is the put_item analog of
    UnprocessedItems: charged against the token bucket and retried with
    capped backoff, never dropped or double-counted."""
    client = FakeDynamoConditional(throttle_first=True)
    stats = write_batches(
        [{"pk": "a"}], table="t", columns=["pk"], types=["s"],
        clients=[client], strict_once=True,
    )
    assert stats == {
        "written": 1, "skipped_dup_pk": 0, "retries": 1, "skipped_existing": 0,
    }


def test_dynamodb_empty_pk_skipped_not_fatal():
    """An empty/NULL PK would make DynamoDB reject the whole 25-item
    request; the row is counted and skipped instead."""
    rows = [{"pk": ""}, {"pk": None}, {"pk": "ok"}]
    client = FakeDynamo()
    stats = write_batches(rows, table="t", columns=["pk"], types=["s"], clients=[client])
    assert stats["written"] == 1
    assert stats["skipped_empty_pk"] == 2
    assert client.items == [{"pk": {"S": "ok"}}]


def test_filewriter_time_partition_name_collision_rejected(spark, tmp_path):
    """A record field named like a time-partition column would be
    silently overwritten and dropped from every line — config error."""
    import pytest as _pytest

    from baker_spark.sinks.filewriter import FileWriter

    df = spark.createDataFrame([Row(ts="2024-01-01 00:00:00", hour="07", msg="m")])
    fw = FileWriter(
        path=str(tmp_path / "o"), time_partitions=["Hour"], timestamp_field="ts"
    )
    with _pytest.raises(ValueError, match="collide"):
        fw.write(df)

    # Spark resolves columns case-INsensitively by default, so a field
    # differing only in case ("Hour" vs partition col "hour") is the
    # same silent-overwrite hazard and must be rejected too
    df_mixed = spark.createDataFrame([Row(ts="2024-01-01 00:00:00", Hour="07", msg="m")])
    with _pytest.raises(ValueError, match="collide"):
        fw.write(df_mixed)


def test_filewriter_field0_partition_keeps_field_in_lines(spark, tmp_path):
    """{{.Field0}} groups files into per-value directories but the
    reference writes the RECORD IN FULL (filewriter.go:192, Fields[0]
    is only the path) — the partition field's value must stay in every
    serialized line at its original position."""
    import glob
    import gzip as _gzip

    from baker_spark.sinks.filewriter import FileWriter

    df = spark.createDataFrame(
        [("us", "1", "a"), ("us", "2", "b"), ("eu", "3", "c")],
        ["region", "id", "v"],
    )
    out = str(tmp_path / "out")
    FileWriter(path=out, compression="gzip", partition_by="region").write(df)
    lines = []
    for part in glob.glob(f"{out}/region=*/*.gz"):
        with _gzip.open(part, "rt") as fh:
            lines += [ln.strip() for ln in fh]
    assert sorted(lines) == ["eu,3,c", "us,1,a", "us,2,b"]  # full records


def test_s3_upload_drains_and_skips_staging_dirs(tmp_path):
    """run() removes uploaded files (the reference's os.Remove drain,
    s3.go:316) so the next pass uploads nothing; '_'-prefixed DIRS
    (crashed-write _temporary trees) are pruned, not walked into; and
    a persistently failing file is logged and skipped, not allowed to
    abort the rest of the scan (s3.go:271-276 log-and-continue)."""
    from baker_spark.sinks.upload import S3Upload

    staging = tmp_path / "staging"
    (staging / "_temporary" / "0").mkdir(parents=True)
    (staging / "_temporary" / "0" / "part-00000.gz").write_text("uncommitted")
    (staging / "good.gz").write_text("x")
    (staging / "bad.gz").write_text("y")

    uploaded = []

    def flaky(path, bucket, key):
        if key.endswith("bad.gz"):
            raise IOError("persistent")
        uploaded.append(key)

    up = S3Upload(source_base_path=str(staging), bucket="b", retries=1, upload_fn=flaky)
    keys = up.run()
    assert keys == ["good.gz"]  # _temporary pruned, bad.gz failed
    assert up.errors and up.errors[0][0] == "bad.gz"
    assert not (staging / "good.gz").exists()  # drained
    assert (staging / "bad.gz").exists()  # failed file left for next pass
    assert up.run() == []  # nothing re-uploaded except the retrying bad.gz


def test_filewriter_partition_overwrite_is_dynamic(spark, tmp_path):
    """A backfill in the default overwrite mode must replace ONLY the
    partitions it carries: static overwrite deletes the whole sink root
    first, wiping every other day's tree — the opposite of the module's
    'backfill lands in the same directories' promise."""
    from baker_spark.sinks.filewriter import FileWriter

    out = str(tmp_path / "out")
    w = FileWriter(
        path=out, time_partitions=["Year", "Month", "Day"], timestamp_field="ts"
    )
    w.write(spark.createDataFrame([("2024-03-15 01:00:00", "mon")], ["ts", "v"]))
    w.write(spark.createDataFrame([("2024-03-14 01:00:00", "backfill")], ["ts", "v"]))
    assert os.path.isdir(os.path.join(out, "year=2024/month=03/day=15"))
    assert os.path.isdir(os.path.join(out, "year=2024/month=03/day=14"))
    # and re-overwriting an existing day replaces just that day
    w.write(spark.createDataFrame([("2024-03-15 02:00:00", "mon2")], ["ts", "v"]))
    back = spark.read.text(out + "/year=2024/month=03/day=15")
    assert [r["value"] for r in back.collect()] == ["2024-03-15 02:00:00,mon2"]


def test_filewriter_partition_by_value_field(spark, tmp_path):
    """A record field literally named 'value' used as Field0 must work:
    the serialized-line column dodges the name instead of colliding into
    an ambiguous-reference AnalysisException."""
    from baker_spark.sinks.filewriter import FileWriter

    df = spark.createDataFrame([("a", "1"), ("b", "2")], ["value", "x"])
    out = str(tmp_path / "byval")
    FileWriter(path=out, partition_by="value").write(df)
    assert os.path.isdir(os.path.join(out, "value=a"))
    assert os.path.isdir(os.path.join(out, "value=b"))


def test_filewriter_rejects_bad_zstd_config():
    """zstd knobs fail at construction like gzip_level does — not
    mid-write inside the job."""
    import pytest

    from baker_spark.sinks.filewriter import FileWriter

    with pytest.raises(ValueError, match="zstd_level"):
        FileWriter(path="/tmp/x.zst", zstd_level=25)
    with pytest.raises(ValueError, match="zstd_window_log"):
        FileWriter(path="/tmp/x.zst", zstd_window_log=5)


def test_serialize_line_matches_column_shape(spark):
    from pyspark.sql import functions as F

    from baker_spark.sinks.filewriter import serialize_line

    df = spark.createDataFrame(
        [(1, None, "a,b"), (None, "", "c'd")], "x int, y string, z string"
    )
    expr_col = serialize_line(["x", "y", "z"], ",")
    old_col = F.concat_ws(
        ",", *[F.coalesce(F.col(c).cast("string"), F.lit("")) for c in ["x", "y", "z"]]
    )
    rows = df.select(expr_col.alias("new"), old_col.alias("old")).collect()
    for r in rows:
        assert r["new"] == r["old"]
