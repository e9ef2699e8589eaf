"""Streaming (daemon-mode) tests: file-arrival source through the batch
operator chain, streaming dedup with watermark, windowed counts.
``processAllAvailable`` drives the stream to completion synchronously."""

import gzip
import json
import os

import pytest
from pyspark.sql import functions as F

from baker_spark import operators as ops
from baker_spark.streaming.daemon import (
    FileStreamSource,
    StreamingDedup,
    StreamingPipeline,
    windowed_counts,
)


def _write_csv(path, rows):
    with open(path, "w") as fh:
        fh.write("\n".join(rows) + "\n")


def _notify(queue, path):
    """Queue an SNS notification naming ``path`` in a FakeDir queue
    (one ``*.msg`` file per message)."""
    (queue / f"{path.name}.msg").write_text(json.dumps({"Message": str(path)}))


def _pending(queue):
    return sorted(p.name for p in queue.glob("*.msg"))


def test_file_stream_with_operator_chain(spark, tmp_path):
    src_dir = tmp_path / "incoming"
    src_dir.mkdir()
    _write_csv(src_dir / "a.csv", ["1,click,u1", "2,view,u2", "3,click,u3"])

    pipe = StreamingPipeline(
        source=FileStreamSource(str(src_dir), fields=["id", "etype", "user"]),
        ops=[
            ops.ClauseFilter("(etype click)"),
            ops.Hash(src_field="user", dst_field="uh", function="md5"),
        ],
        fields=["id", "etype", "uh"],
    )
    q = pipe.start_memory(spark, "stream_out")
    try:
        q.processAllAvailable()
        got = {tuple(r) for r in spark.sql("SELECT id, etype FROM stream_out").collect()}
        assert got == {("1", "click"), ("3", "click")}

        # daemon behavior: a newly arriving file is picked up incrementally
        _write_csv(src_dir / "b.csv", ["4,click,u4"])
        q.processAllAvailable()
        n = spark.sql("SELECT count(*) n FROM stream_out").collect()[0].n
        assert n == 3
    finally:
        q.stop()


def test_streaming_dedup_and_gz(spark, tmp_path):
    src_dir = tmp_path / "gz_in"
    src_dir.mkdir()
    with gzip.open(src_dir / "a.csv.gz", "wt") as fh:
        fh.write("2024-01-01 00:00:00,k1\n2024-01-01 00:00:00,k1\n2024-01-01 00:01:00,k2\n")

    pipe = StreamingPipeline(
        source=FileStreamSource(str(src_dir), fields=["ts", "key"]),
        ops=[],
    )
    df = pipe.dataframe(spark).withColumn("ts", F.col("ts").cast("timestamp"))
    dedup = StreamingDedup(fields=["key"], event_time_col="ts").apply(df)
    q = dedup.writeStream.format("memory").queryName("dedup_out").outputMode("append").start()
    try:
        q.processAllAvailable()
        keys = sorted(r.key for r in spark.sql("SELECT key FROM dedup_out").collect())
        assert keys == ["k1", "k2"]
    finally:
        q.stop()


def test_windowed_counts(spark, tmp_path):
    src_dir = tmp_path / "win_in"
    src_dir.mkdir()
    _write_csv(
        src_dir / "a.csv",
        [
            "2024-01-01 00:00:30,click",
            "2024-01-01 00:01:30,click",
            "2024-01-01 00:07:00,view",
        ],
    )
    src = FileStreamSource(str(src_dir), fields=["ts", "etype"])
    df = src.dataframe(spark).withColumn("ts", F.col("ts").cast("timestamp"))
    agg = windowed_counts(df, "ts", window="5 minutes", group_cols=["etype"])
    q = agg.writeStream.format("memory").queryName("win_out").outputMode("complete").start()
    try:
        q.processAllAvailable()
        rows = spark.sql("SELECT etype, n FROM win_out ORDER BY etype").collect()
        assert [(r.etype, r.n) for r in rows] == [("click", 2), ("view", 1)]
    finally:
        q.stop()


def test_foreach_batch_reuses_batch_sink(spark, tmp_path):
    from baker_spark.sinks.simple import Nop

    src_dir = tmp_path / "fb_in"
    src_dir.mkdir()
    _write_csv(src_dir / "a.csv", ["1,x", "2,y"])

    class CollectSink:
        rows = []

        def write(self, df):
            self.rows.extend(tuple(r) for r in df.collect())

    sink = CollectSink()
    pipe = StreamingPipeline(source=FileStreamSource(str(src_dir), fields=["id", "v"]))
    q = pipe.start_foreach_batch(spark, sink, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        assert sorted(sink.rows) == [("1", "x"), ("2", "y")]
    finally:
        q.stop()
    assert isinstance(Nop(), object)  # batch sinks importable for streaming reuse


def test_streaming_pipeline_builds_through_pipeline_dataframe(spark, tmp_path):
    """A daemon topology is a Pipeline: ``sharding``/``procs`` repartition
    the stream and engine-internal ``_bk_*`` columns never reach the sink
    when ``fields`` is unset, exactly as in a batch topology."""
    from baker_spark.pipeline import Pipeline

    src_dir = tmp_path / "bk_in"
    src_dir.mkdir()
    _write_csv(src_dir / "a.csv", ["1,x", "2,y"])
    files = FileStreamSource(str(src_dir), fields=["id", "v"])

    pipe = StreamingPipeline(
        source=lambda s: files(s).withColumn("_bk_tag", F.lit("meta")),
        sharding="id",
        procs=2,
    )
    assert isinstance(pipe, Pipeline)
    q = pipe.start_memory(spark, "bk_drop_out")
    try:
        q.processAllAvailable()
        out = spark.table("bk_drop_out")
        assert out.columns == ["id", "v"]
        assert sorted(tuple(r) for r in out.collect()) == [("1", "x"), ("2", "y")]
    finally:
        q.stop()


def test_compiled_daemon_topology_shards_like_batch(spark, tmp_path, capsys):
    """A compiled TCP topology carries [output] sharding/procs and
    [filterchain] procs as Pipeline fields, not as a Shard op appended to
    the chain; its plan holds exactly one hash exchange (chain_procs
    adds none on a stream)."""
    from baker_spark.operators.topology import Shard
    from baker_spark.plans import compile_toml

    spool = tmp_path / "spool"
    spool.mkdir()
    pipe = compile_toml(f"""
[fields]
names=["id","v"]
[input]
name="TCP"
[input.config]
Listener="127.0.0.1:0"
SpoolDir="{spool}"
[filterchain]
procs=5
[output]
name="Recorder"
sharding="id"
procs=3
""")
    assert isinstance(pipe, StreamingPipeline)
    assert (pipe.sharding, pipe.procs, pipe.chain_procs) == ("id", 3, 5)
    assert not any(isinstance(op, Shard) for op in pipe.ops)
    capsys.readouterr()
    pipe.dataframe(spark).explain("formatted")
    plan = capsys.readouterr().out
    assert plan.count("hashpartitioning(") == 1, plan
    assert "StreamingRelation" in plan


def test_checkpoint_manager_keeps_the_overwrite_guard(spark, tmp_path):
    """Streaming checkpoints go through Spark's FileSystem-based manager
    (session.RUNTIME_CONFS), and it keeps what HDFSMetadataLog.add relies
    on: an atomic create of an existing batch file raises Hadoop's
    FileAlreadyExistsException and leaves the committed bytes, and the
    log files keep their .crc siblings."""
    from py4j.protocol import Py4JJavaError

    from baker_spark.sinks.simple import Nop

    src_dir = tmp_path / "ck_in"
    src_dir.mkdir()
    _write_csv(src_dir / "a.csv", ["1,x"])
    ckpt = tmp_path / "ckpt"

    pipe = StreamingPipeline(source=FileStreamSource(str(src_dir), fields=["id", "v"]))
    q = pipe.start_foreach_batch(spark, Nop(), checkpoint_dir=str(ckpt))
    try:
        q.processAllAvailable()
    finally:
        q.stop()

    jvm = spark._jvm
    HPath = jvm.org.apache.hadoop.fs.Path
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    checkpointing = jvm.org.apache.spark.sql.execution.streaming.checkpointing
    mgr = checkpointing.CheckpointFileManager.create(HPath(str(ckpt)), conf)
    assert mgr.getClass().getName() == (
        "org.apache.spark.sql.execution.streaming.checkpointing."
        "FileSystemBasedCheckpointFileManager"
    )

    batch = ckpt / "offsets" / "0"
    committed = batch.read_bytes()
    out = mgr.createAtomic(HPath(str(batch)), False)
    out.write(bytearray(b"overwritten"))
    with pytest.raises(Py4JJavaError) as err:
        out.close()
    already_exists = jvm.java.lang.Class.forName("org.apache.hadoop.fs.FileAlreadyExistsException")
    assert already_exists.isInstance(err.value.java_exception)
    assert batch.read_bytes() == committed

    for log in ("offsets", "commits"):
        assert (ckpt / log / ".0.crc").exists(), sorted(os.listdir(ckpt / log))


def test_interval_join(spark, tmp_path):
    """Stream-stream interval join: purchase matches click within 60 s."""
    from pyspark.sql import functions as F

    from baker_spark.streaming.daemon import FileStreamSource, interval_join

    ldir, rdir = tmp_path / "clicks", tmp_path / "buys"
    ldir.mkdir(), rdir.mkdir()

    clicks = FileStreamSource(path=str(ldir), fields=["user", "ts"])(spark).select(
        F.col("user"), F.col("ts").cast("timestamp").alias("click_ts")
    )
    buys = FileStreamSource(path=str(rdir), fields=["buyer", "ts"])(spark).select(
        F.col("buyer").alias("user"), F.col("ts").cast("timestamp").alias("buy_ts")
    )
    joined = interval_join(
        clicks, buys, on="user", left_ts="click_ts", right_ts="buy_ts",
        lower_s=0, upper_s=60,
    )
    q = (
        joined.select("user", "click_ts", "buy_ts")
        .writeStream.format("memory")
        .queryName("ivj")
        .outputMode("append")
        .start()
    )
    (ldir / "c.csv").write_text(
        "alice,2024-01-01 00:00:00\nbob,2024-01-01 00:05:00\n"
    )
    (rdir / "b.csv").write_text(
        "alice,2024-01-01 00:00:30\nbob,2024-01-01 00:10:00\n"  # bob too late
    )
    q.processAllAvailable()
    rows = spark.sql("SELECT user FROM ivj").collect()
    q.stop()
    assert [r.user for r in rows] == ["alice"]


def test_toml_daemon_topology(spark, tmp_path):
    """The reference's daemon TOML (SQS file-notification input) compiles
    to a StreamingPipeline and runs end-to-end: incremental pickup of
    notified files, operator chain, foreachBatch into the compiled batch
    sink."""
    from baker_spark.plans import compile_toml
    from baker_spark.sinks.simple import Recorder

    src_dir = tmp_path / "notified"
    src_dir.mkdir()
    queue = tmp_path / "queue"
    queue.mkdir()
    _write_csv(src_dir / "a.csv", ["1,click,u1", "2,view,u2"])
    _notify(queue, src_dir / "a.csv")

    toml = f"""
[fields]
names=["id","etype","user"]
[input]
name="SQS"
[input.config]
FakeDir="{queue}"
[[filter]]
name="ClauseFilter"
[filter.config]
Clause="(etype click)"
[output]
name="Recorder"
fields=["id","etype"]
"""
    pipe = compile_toml(toml)
    from baker_spark.streaming.daemon import StreamingPipeline

    assert isinstance(pipe, StreamingPipeline)
    assert isinstance(pipe.sink, Recorder)
    q = pipe.start(spark, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        _write_csv(src_dir / "b.csv", ["3,click,u3"])
        _notify(queue, src_dir / "b.csv")
        q.processAllAvailable()
    finally:
        q.stop()
    got = {(r["id"], r["etype"]) for r in pipe.sink.records}
    assert got == {("1", "click"), ("3", "click")}
    assert _pending(queue) == []


def test_toml_daemon_kinesis_compiles(spark):
    """Kinesis/KCL daemon TOMLs compile to the jar-free ``bakerkinesis``
    Python data source; a TCP daemon TOML without SpoolDir fails."""
    from baker_spark.plans import compile_toml
    from baker_spark.streaming.connectors import KinesisPythonSource
    from baker_spark.streaming.daemon import StreamingPipeline

    kcl_toml = """
[input]
name="KCL"
[input.config]
Stream="events"
AppName="bakerapp"
AWSRegion="us-east-1"
InitialPosition="TRIM_HORIZON"
"""
    pipe = compile_toml(kcl_toml)
    assert isinstance(pipe, StreamingPipeline)
    assert isinstance(pipe.source, KinesisPythonSource)
    assert pipe.source.initial_position == "TRIM_HORIZON"

    # TCP needs its SpoolDir, with or without [fields]: the plaintext
    # socket source it once fell back to is retired
    for fields in ("", '[fields]\nnames=["a"]\n'):
        with pytest.raises(ValueError, match="SpoolDir is required"):
            compile_toml(fields + '[input]\nname="TCP"\n[input.config]\nListener=":7100"\n')


def test_checkpoint_resume_no_reprocessing(spark, tmp_path):
    """Graceful stop + restart from the same checkpoint continues where
    the stream left off — the engine's equivalent of KCL's lease/
    checkpoint table (input/kcl.go:27-49) and the reference's SIGINT
    drain: already-processed files are not re-emitted."""
    from baker_spark.sinks.simple import Recorder
    from baker_spark.streaming.daemon import FileStreamSource, StreamingPipeline

    src = tmp_path / "resume_in"
    src.mkdir()
    ckpt = str(tmp_path / "resume_ckpt")
    _write_csv(src / "a.csv", ["1,x", "2,y"])

    def run_once():
        rec = Recorder()
        pipe = StreamingPipeline(
            source=FileStreamSource(str(src), fields=["id", "v"]),
            ops=[],
            sink=rec,
        )
        q = pipe.start(spark, ckpt)
        try:
            q.processAllAvailable()
        finally:
            q.stop()
        return {r["id"] for r in rec.records}

    assert run_once() == {"1", "2"}

    # new file arrives while the daemon is down; a restarted query sees
    # ONLY it
    _write_csv(src / "b.csv", ["3,z"])
    assert run_once() == {"3"}


def test_streaming_metrics_listener(spark, tmp_path):
    """Daemon topologies export per-batch stats like the reference's
    per-second dump (stats.go:197-218): a [metrics]-built client
    receives records_read / records_per_sec / batch_duration_ms and one
    batch_phase_ms per trigger phase from the StreamingQueryListener
    bridge."""
    from baker_spark.metrics import LogMetrics

    src_dir = tmp_path / "sm_in"
    src_dir.mkdir()
    _write_csv(src_dir / "a.csv", ["1,x", "2,y", "3,z"])

    class CollectSink:
        rows = []

        def write(self, df):
            self.rows.extend(tuple(r) for r in df.collect())

    client = LogMetrics()
    pipe = StreamingPipeline(
        source=FileStreamSource(str(src_dir), fields=["id", "v"]),
        metrics=client,
    )
    sink = CollectSink()
    q = pipe.start_foreach_batch(spark, sink, checkpoint_dir=str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        import time as _time

        def read_counts():
            return [
                int(float(ln.split("=")[1].split(" ")[0]))
                for ln in client.lines
                if ln.startswith("count records_read=")
            ]

        deadline = _time.time() + 10
        while _time.time() < deadline:
            # wait for the FULL expected state, not just the first line:
            # the listener thread appends count -> gauge -> histogram per
            # batch, so asserting right after the first records_read line
            # races the remaining appends (and a second batch's counts)
            if sum(read_counts()) == 3 and any(
                "phase:commitOffsets" in ln for ln in client.lines
            ):
                break
            _time.sleep(0.2)  # listener events deliver asynchronously
        assert sum(read_counts()) == 3, client.lines
        assert any(ln.startswith("gauge records_per_sec=") for ln in client.lines)
        assert any(ln.startswith("histogram batch_duration_ms=") for ln in client.lines)
        # the trigger's phases, one tagged histogram each
        for phase in ("latestOffset", "addBatch", "walCommit", "commitOffsets"):
            assert any(
                ln.startswith("histogram batch_phase_ms=") and f"'phase:{phase}'" in ln
                for ln in client.lines
            ), (phase, client.lines)
    finally:
        q.stop()


def test_daemon_filewriter_appends_across_batches(spark, tmp_path):
    """Micro-batch 2 must not clobber micro-batch 1's files: the TOML
    compiler switches FileWriter to mode=append for daemon topologies
    (the batch default overwrite would keep only the last batch)."""
    from baker_spark.plans import compile_toml

    src_dir = tmp_path / "fw_in"
    src_dir.mkdir()
    queue = tmp_path / "queue"
    queue.mkdir()
    _write_csv(src_dir / "a.csv", ["1,click,u1"])
    _notify(queue, src_dir / "a.csv")
    toml = f"""
[fields]
names=["id","etype","user"]
[input]
name="SQS"
[input.config]
FakeDir="{queue}"
[output]
name="FileWriter"
[output.config]
PathString="{tmp_path}/fw_out/out.csv.gz"
"""
    pipe = compile_toml(toml)
    assert pipe.sink.mode == "append"
    q = pipe.start(spark, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        _write_csv(src_dir / "b.csv", ["2,view,u2"])
        _notify(queue, src_dir / "b.csv")
        q.processAllAvailable()
    finally:
        q.stop()
    rows = []
    for root, _, files in os.walk(str(tmp_path / "fw_out")):
        for f in files:
            if f.endswith(".csv.gz"):
                with gzip.open(os.path.join(root, f), "rt") as fh:
                    rows += [ln for ln in fh.read().splitlines() if ln]
    assert sorted(rows) == ["1,click,u1", "2,view,u2"]  # batch 1 survived


def test_daemon_sqlite_clear_only_first_batch(spark, tmp_path):
    """SQLite Clear is a once-at-startup truncate (sqlite.go:40): in
    daemon mode batch 2 must not wipe batch 1's rows."""
    import sqlite3

    from baker_spark.sinks.sqlite import SQLiteWriter
    from baker_spark.streaming.daemon import FileStreamSource, StreamingPipeline

    src_dir = tmp_path / "sq_in"
    src_dir.mkdir()
    _write_csv(src_dir / "a.csv", ["1,x"])
    db = str(tmp_path / "out.sqlite3")
    sink = SQLiteWriter(path=db, table="recs", clear=True)
    pipe = StreamingPipeline(
        source=FileStreamSource(str(src_dir), fields=["id", "v"]), sink=sink
    )
    q = pipe.start(spark, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        _write_csv(src_dir / "b.csv", ["2,y"])
        q.processAllAvailable()
    finally:
        q.stop()
    n = sqlite3.connect(db).execute("SELECT count(*) FROM recs").fetchone()[0]
    assert n == 2  # both batches present; clear ran only at startup


def test_subsecond_rotate_interval_survives(tmp_path):
    """RotateInterval=\"500ms\" must become a 0.5 s trigger, not be
    truncated to \"no trigger\"."""
    from baker_spark.plans import compile_toml

    toml = f"""
[fields]
names=["id","v"]
[input]
name="SQS"
[input.config]
FakeDir="{tmp_path}"
[output]
name="FileWriter"
[output.config]
PathString="{tmp_path}/o.csv.gz"
RotateInterval="500ms"
"""
    assert compile_toml(toml).trigger_seconds == 0.5


def test_daemon_upload_stage_runs_per_batch(spark, tmp_path):
    """[upload] in a daemon TOML is wired (it was silently dropped):
    the staging-dir scan runs after each micro-batch, like the
    reference's continuous uploader (s3.go:126-187)."""
    from baker_spark.plans import compile_toml

    src_dir = tmp_path / "up_in"
    src_dir.mkdir()
    queue = tmp_path / "queue"
    queue.mkdir()
    _write_csv(src_dir / "a.csv", ["1,click,u1"])
    _notify(queue, src_dir / "a.csv")
    toml = f"""
[fields]
names=["id","etype","user"]
[input]
name="SQS"
[input.config]
FakeDir="{queue}"
[output]
name="FileWriter"
[output.config]
PathString="{tmp_path}/staged/out.csv.gz"
[upload]
name="S3"
[upload.config]
SourceBasePath="{tmp_path}/staged"
Bucket="bkt"
Prefix="pre"
"""
    pipe = compile_toml(toml)
    assert pipe.upload is not None
    sent = []
    pipe.upload.upload_fn = lambda path, bucket, key: sent.append(key)
    q = pipe.start(spark, str(tmp_path / "ckpt"))
    try:
        q.processAllAvailable()
        n_first = len(sent)
        _write_csv(src_dir / "b.csv", ["2,view,u2"])
        _notify(queue, src_dir / "b.csv")
        q.processAllAvailable()
    finally:
        q.stop()
    assert n_first >= 1 and len(sent) > n_first  # uploads ran per batch


def test_streaming_dedup_drops_redelivery_with_different_ts(spark, tmp_path):
    """The dedup KEY is the configured fields ALONE (dedup.go:60): an
    at-least-once redelivery arriving with a DIFFERENT timestamp is
    still the same record and must drop. Keying on fields+ts (the old
    shape, forced by plain dropDuplicates' watermark rules) silently
    passed both copies — dropDuplicatesWithinWatermark is what makes
    fields-only keys legal under a watermark."""
    import os

    from baker_spark.streaming.daemon import StreamingDedup

    src = str(tmp_path / "src")
    os.makedirs(src)
    df0 = spark.createDataFrame(
        [
            ("u1", "/a", "2026-01-01 00:00:00"),
            ("u1", "/a", "2026-01-01 00:00:05"),  # redelivery, 5s later
            ("u2", "/b", "2026-01-01 00:00:01"),
        ],
        "user string, url string, ts_s string",
    ).select("user", "url", F.col("ts_s").cast("timestamp").alias("ts"))
    df0.coalesce(1).write.parquet(src + "/b0")

    stream = (
        spark.readStream.schema("user string, url string, ts timestamp")
        .option("maxFilesPerTrigger", "1")
        .parquet(src + "/b0")
    )
    deduped = StreamingDedup(["user", "url"], event_time_col="ts").apply(stream)
    name = f"sdd_{abs(hash(str(tmp_path))) % 10**8}"
    q = (
        deduped.writeStream.format("memory")
        .queryName(name)
        .outputMode("append")
        .option("checkpointLocation", str(tmp_path / "ckpt"))
        .start()
    )
    try:
        q.processAllAvailable()
    finally:
        q.stop()
        q.awaitTermination()
    rows = sorted((r.user, r.url) for r in spark.table(name).collect())
    assert rows == [("u1", "/a"), ("u2", "/b")]
