"""The bakersqs streaming data source: queue-notified files become a
readStream with Spark-managed offsets, executor-side fetch, and
delete-at-commit (sqs.go:192-246 semantics, upgraded from
delete-after-handoff). The observable DirQueueClient backs the tests:
a ``*.msg`` file is one pending message; delete = unlink."""

import gzip
import json
import os
import time

import pytest

from baker_spark.streaming.sqs_datasource import register


def _msg(qdir, name, body):
    p = qdir / f"{name}.msg"
    p.write_text(body)
    return p


def _pending(qdir):
    return sorted(p.name for p in qdir.glob("*.msg"))


@pytest.fixture()
def stream(spark, tmp_path):
    """(queue_dir, data_dir, start) — start() returns a running memory-
    sink query named uniquely per test."""
    qdir = tmp_path / "queue"
    qdir.mkdir()
    data = tmp_path / "data"
    data.mkdir()
    register(spark)
    queries = []

    def start(fmt="plain", name=None, checkpoint=None, **opts):
        name = name or f"sqs_mem_{len(queries)}_{os.getpid()}_{time.time_ns()}"
        reader = (
            spark.readStream.format("bakersqs")
            .option("fake_dir", str(qdir))
            .option("message_format", fmt)
        )
        for k, v in opts.items():
            reader = reader.option(k, v)
        w = reader.load().writeStream.format("memory").queryName(name)
        if checkpoint:
            w = w.option("checkpointLocation", checkpoint)
        q = w.start()
        queries.append(q)
        return q, name

    yield qdir, data, start
    for q in queries:
        q.stop()


def test_notified_files_stream_and_messages_delete_at_commit(spark, stream):
    qdir, data, start = stream
    f1 = data / "one.csv"
    f1.write_text("a1,b1\na2,b2\n")
    _msg(qdir, "m1", str(f1))

    q, name = start()
    q.processAllAvailable()
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert sorted(r.value for r in rows) == ["a1,b1", "a2,b2"]
    # metadata: url = the notified path, last_modified = its mtime
    assert {r._bk_url for r in rows} == {str(f1)}
    assert all(r._bk_last_modified is not None for r in rows)
    # the message was deleted at checkpoint commit
    assert _pending(qdir) == []

    # a later notification streams in the same query — and a gzip file
    # decompresses in the executor task
    f2 = data / "two.csv.gz"
    f2.write_bytes(gzip.compress(b"c1,d1\n"))
    _msg(qdir, "m2", str(f2))
    q.processAllAvailable()
    got = sorted(r.value for r in spark.sql(f"SELECT * FROM {name}").collect())
    assert got == ["a1,b1", "a2,b2", "c1,d1"]
    assert _pending(qdir) == []


def test_unparsable_message_stays_pending_sns_format(spark, stream):
    qdir, data, start = stream
    f = data / "ok.csv"
    f.write_text("x,y\n")
    _msg(qdir, "bad", "definitely not json")
    _msg(qdir, "good", json.dumps({"Message": str(f)}))

    q, name = start(fmt="sns")
    q.processAllAvailable()
    assert [r.value for r in spark.sql(f"SELECT * FROM {name}").collect()] == ["x,y"]
    # parse failure -> undeleted, left for redelivery (sqs.go:221-226)
    assert _pending(qdir) == ["bad.msg"]


def test_redelivered_message_does_not_duplicate_batch(spark, stream):
    """DirQueueClient re-serves undeleted messages on every receive
    (like an expired visibility timeout); the in-flight set must not
    emit the file twice while the first batch is uncommitted."""
    qdir, data, start = stream
    f = data / "dup.csv"
    f.write_text("only,once\n")
    _msg(qdir, "m", str(f))

    q, name = start()
    q.processAllAvailable()
    q.processAllAvailable()  # extra trigger: message already deleted/in-flight
    rows = spark.sql(f"SELECT * FROM {name}").collect()
    assert [r.value for r in rows] == ["only,once"]


def test_checkpoint_restart_resumes_offsets(spark, stream, tmp_path):
    qdir, data, start = stream
    ckpt = str(tmp_path / "ckpt")
    out = str(tmp_path / "out")  # file sink: the one that recovers
    f1 = data / "first.csv"
    f1.write_text("r1\n")
    _msg(qdir, "m1", str(f1))

    def run_query():
        return (
            spark.readStream.format("bakersqs")
            .option("fake_dir", str(qdir))
            .option("message_format", "plain")
            .load()
            .selectExpr("value")
            .writeStream.format("json")
            .option("path", out)
            .option("checkpointLocation", ckpt)
            .start()
        )

    q1 = run_query()
    q1.processAllAvailable()
    q1.stop()
    assert _pending(qdir) == []

    f2 = data / "second.csv"
    f2.write_text("r2\n")
    _msg(qdir, "m2", str(f2))
    q2 = run_query()
    q2.processAllAvailable()
    q2.stop()
    # the restarted query continued from the checkpoint: r1 exactly
    # once (no replay of the committed batch), r2 appended
    got = sorted(r.value for r in spark.read.json(out).collect())
    assert got == ["r1", "r2"]


def test_crash_between_wal_and_delete_does_not_duplicate(tmp_path):
    """Reader-level simulation of the one at-risk window: offset
    journaled (latestOffset returned), process dies before partitions()
    deleted the message. The restarted reader must replay the batch
    WITHOUT re-admitting the still-pending message as new data."""
    from baker_spark.streaming.sqs_datasource import SQSStreamReader

    qdir = tmp_path / "q"
    qdir.mkdir()
    f = tmp_path / "x.csv"
    f.write_text("row\n")
    _msg(qdir, "m", str(f))
    opts = {"fake_dir": str(qdir), "message_format": "plain"}

    a = SQSStreamReader(opts)
    off1 = a.latestOffset()
    assert [p for p, _ in off1["files"]] == [str(f)]
    # crash here: no partitions() call, message still pending
    assert _pending(qdir) == ["m.msg"]

    b = SQSStreamReader(opts)  # restart: fresh in-flight state
    parts = b.partitions(b.initialOffset(), off1)  # WAL replay
    assert [p.path for p in parts] == [str(f)]
    assert _pending(qdir) == ["m.msg"]  # handle was lost, delete deferred
    # next poll: the straggler is deleted, NOT re-admitted
    off2 = b.latestOffset()
    assert off2["files"] == [] and _pending(qdir) == []
    # and the reader keeps returning a byte-stable offset afterwards
    assert b.latestOffset() is off2


def test_file_path_filter_deletes_filtered_message(spark, stream):
    qdir, data, start = stream
    keep = data / "keep.csv"
    keep.write_text("kept\n")
    skip = data / "skip.tsv"
    skip.write_text("skipped\n")
    _msg(qdir, "k", str(keep))
    _msg(qdir, "s", str(skip))

    q, name = start(file_path_filter=r"\.csv$")
    q.processAllAvailable()
    assert [r.value for r in spark.sql(f"SELECT * FROM {name}").collect()] == ["kept"]
    # the filtered message is deleted like any parsed message — the
    # reference deletes filtered-out ones too (only parse failures stay)
    assert _pending(qdir) == []


def test_duplicate_messages_same_path_both_deleted(tmp_path):
    """Two DISTINCT messages naming the same (queue, path) in one poll:
    the file is admitted once and BOTH messages are deleted — the
    superseded one immediately, the kept one at partition planning.
    (Dropping the superseded handle would let its message redeliver
    after the key was popped and re-admit the file as a new batch.)"""
    from baker_spark.streaming.sqs_datasource import SQSStreamReader

    qdir = tmp_path / "q"
    qdir.mkdir()
    f = tmp_path / "x.csv"
    f.write_text("row\n")
    _msg(qdir, "a", str(f))
    _msg(qdir, "b", str(f))

    r = SQSStreamReader({"fake_dir": str(qdir), "message_format": "plain"})
    off = r.latestOffset()
    assert [p for p, _ in off["files"]] == [str(f)]  # admitted once
    assert _pending(qdir) == ["b.msg"]  # superseded 'a' deleted in-poll
    r.partitions(r.initialOffset(), off)
    assert _pending(qdir) == []  # kept handle deleted post-WAL
    # nothing re-admitted: the offset is re-returned verbatim (same
    # seq), so Spark plans no further batch
    assert r.latestOffset() is off


def test_restart_offset_never_collides_with_wal(tmp_path):
    """Batch committed, delete failed, crash: the restarted reader's
    first offset must DIFFER from the WAL's last one even at the same
    seq/files (the per-run nonce), or Spark plans no batch and the
    redelivered message wedges in the in-flight map forever."""
    from baker_spark.streaming.sqs_datasource import SQSStreamReader

    qdir = tmp_path / "q"
    qdir.mkdir()
    f = tmp_path / "x.csv"
    f.write_text("row\n")
    _msg(qdir, "m", str(f))
    opts = {"fake_dir": str(qdir), "message_format": "plain"}

    a = SQSStreamReader(opts)
    wal_last = a.latestOffset()  # seq 1, files=[x.csv] — journaled
    # crash before delete; restart:
    b = SQSStreamReader(opts)
    off = b.latestOffset()  # re-admits the pending message at seq 1
    assert [p for p, _ in off["files"]] == [str(f)]
    assert off["seq"] == wal_last["seq"]
    assert off != wal_last  # the nonce breaks the tie
