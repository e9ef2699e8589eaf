"""Runnable example: queue-driven daemon topology — the reference's SQS
and TCP input shapes on Structured Streaming.

    python examples/queue_daemon.py

Two inputs feed ONE streaming query:

- the SQS input (``bakersqs``) reads SNS notifications from a queue —
  a directory queue here (``fake_dir``); drop ``fake_dir`` and set
  ``queue_names`` to poll real SQS — and streams the files they name
- a TCP gzip listener accepts the reference's wire format (one gzip
  stream per connection) and spools complete-line chunks into a
  watched directory read by a FileStreamSource

Both are merged into one operator chain, so Spark owns micro-batching,
offset journaling and checkpointing.
"""

import json
import os
import sys
import tempfile

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from baker_spark import operators as ops  # noqa: E402
from baker_spark.session import get_spark  # noqa: E402
from baker_spark.streaming.daemon import FileStreamSource, StreamingPipeline  # noqa: E402
from baker_spark.streaming.sqs_datasource import SQSSource  # noqa: E402
from baker_spark.streaming.tcp import TCPGzipListener, send_gzip_records  # noqa: E402

FIELDS = ["id", "etype", "user"]


def main() -> None:
    spark = get_spark("queue_daemon_example", cpus=4)
    data_dir = tempfile.mkdtemp(prefix="qd_data_")
    sqs_queue = tempfile.mkdtemp(prefix="qd_sqs_")
    tcp_spool = tempfile.mkdtemp(prefix="qd_tcp_")

    # --- SQS side: an SNS notification (one *.msg file) names a file
    notified = os.path.join(data_dir, "notified.csv")
    with open(notified, "w") as fh:
        fh.write("1,click,alice\n2,view,bob\n")
    with open(os.path.join(sqs_queue, "m1.msg"), "w") as fh:
        fh.write(json.dumps({"Type": "Notification", "Message": notified}))

    # --- TCP side: a producer pushes a gzip stream of records
    listener = TCPGzipListener(tcp_spool, port=0)
    listener.start()
    send_gzip_records(listener.host, listener.port, b"3,click,carol\n4,view,dave\n")
    # the listener decodes + spools in its own thread; wait for the spool
    # file to land before the query's processAllAvailable, or the file
    # source can snapshot the dir while it is still empty and the TCP
    # rows silently miss this run
    import glob
    import time

    deadline = time.time() + 10
    while time.time() < deadline and not glob.glob(os.path.join(tcp_spool, "tcp-*.csv")):
        time.sleep(0.05)

    # --- one streaming query over both sources
    def merged(s):
        a = SQSSource(fake_dir=sqs_queue, fields=FIELDS)(s)
        b = FileStreamSource(tcp_spool, fields=FIELDS)(s)
        return a.unionByName(b)

    pipe = StreamingPipeline(
        source=merged,
        ops=[ops.ClauseFilter("(etype click)"), ops.Hash(src_field="user", dst_field="uh")],
        fields=["id", "user", "uh"],
    )
    query = pipe.start_memory(spark, "daemon_out")
    query.processAllAvailable()
    for row in spark.sql("SELECT * FROM daemon_out ORDER BY id").collect():
        print(tuple(row))
    query.stop()
    listener.stop()
    spark.stop()


if __name__ == "__main__":
    main()
