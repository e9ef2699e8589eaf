"""Runnable example: the Kinesis tail as a daemon topology — compiled
from the SAME TOML a baker deployment uses for its KCL input.

    python examples/kinesis_daemon.py

A producer thread appends records to a two-shard fake stream (the
``fake_dir`` spool client — swap for real AWS by dropping FakeDir from
the config and having boto3 credentials in the environment), including
a mid-run reshard (a third shard appears). The consumer side is the
TOML below, compiled by the same ``compile_toml`` the CLI uses: the
jar-free ``bakerkinesis`` source (shard -> partition, sequence-number
offsets in the checkpoint WAL), newline-split into positional fields
exactly like the reference (input/kinesis.go:145-150), then through an
operator chain into an in-memory sink.

What to look at in the output: records arrive exactly once across
triggers, the reshard is picked up without restart, and stopping +
restarting the query from the same checkpoint resumes AFTER the last
committed sequence number instead of re-reading the stream.
"""

import os
import sys
import tempfile
import threading
import time

sys.path.insert(0, os.path.join(os.path.dirname(__file__), ".."))

from baker_spark import get_spark  # noqa: E402
from baker_spark.plans import compile_toml  # noqa: E402
from baker_spark.streaming.kinesis_datasource import DirStreamClient  # noqa: E402

TOML = """
[fields]
names = ["id", "etype", "user"]

[input]
name = "KCL"

[input.config]
Stream = "events"
AppName = "exampleapp"
AWSRegion = "us-east-1"
InitialPosition = "TRIM_HORIZON"
FakeDir = "{fake_dir}"
# KCL lease-table analog: committed per-shard positions journal here, so
# a restart resumes exactly even when the backlog exceeds one trigger
LeaseDir = "{lease_dir}"

[[filter]]
name = "StringMatch"

    # StringMatch DISCARDS matching records (stringmatch.go semantics):
    # drop the "view" events so only clicks flow through
    [filter.config]
    Field = "etype"
    Strings = ["view"]
"""


def main() -> None:
    spool = tempfile.mkdtemp(prefix="kinesis_spool_")
    ckpt = tempfile.mkdtemp(prefix="kinesis_ckpt_")
    lease = tempfile.mkdtemp(prefix="kinesis_lease_")
    client = DirStreamClient(spool)

    # seed two shards, then reshard mid-run from the producer thread
    client.put_record("events", b"1,click,u1\n2,view,u2\n", "pk-a",
                      ShardId="shardId-000000000000")
    client.put_record("events", b"3,click,u3", "pk-b",
                      ShardId="shardId-000000000001")

    def produce_more():
        time.sleep(0.5)
        client.put_record("events", b"4,click,u4", "pk-c",
                          ShardId="shardId-000000000002")  # reshard: new shard

    spark = get_spark("kinesis_daemon_example", cpus=4)
    pipeline = compile_toml(TOML.format(fake_dir=spool, lease_dir=lease))
    out_dir = tempfile.mkdtemp(prefix="kinesis_out_")

    def start_query():
        # a durable sink (parquet), so the SAME checkpoint can recover
        # the query after a stop — the KCL lease-table resume story
        return (
            pipeline.dataframe(spark)
            .writeStream.format("parquet")
            .option("path", out_dir)
            .option("checkpointLocation", os.path.join(ckpt, "exampleapp"))
            .start()
        )

    query = start_query()
    t = threading.Thread(target=produce_more)
    t.start()
    query.processAllAvailable()
    t.join()
    query.processAllAvailable()
    got = sorted((r.id, r.user) for r in spark.read.parquet(out_dir).collect())
    print(f"clicks after filter: {got}")
    assert got == [("1", "u1"), ("3", "u3"), ("4", "u4")]

    # checkpoint resume: a fresh query on the same WAL continues AFTER
    # the last committed sequence numbers — record 5 arrives, nothing
    # is replayed (no duplicates in the sink)
    query.stop()
    client.put_record("events", b"5,click,u5", "pk-d",
                      ShardId="shardId-000000000000")
    q2 = start_query()
    q2.processAllAvailable()
    got = sorted((r.id, r.user) for r in spark.read.parquet(out_dir).collect())
    print(f"after resume (exactly once, one new record): {got}")
    assert got == [("1", "u1"), ("3", "u3"), ("4", "u4"), ("5", "u5")]
    q2.stop()
    spark.stop()
    print("ok")


if __name__ == "__main__":
    main()
