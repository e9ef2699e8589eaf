"""``spark.readStream.format("bakersqs")`` — the SQS file-notification
contract as a Spark 4 Python streaming data source.

The reference's SQS input (/root/reference/input/sqs.go:192-246) polls
queues whose messages name files, streams each named file, and deletes
the message after handoff. This module is that input's one Spark form,
a ``readStream`` source with Spark-managed offsets over the driver-side
:class:`baker_spark.streaming.sqs.SQSPoller`; a TOML
``[input] name="SQS"`` section compiles to :class:`SQSSource`:

- ``latestOffset`` polls WITHOUT deleting (``SQSPoller.poll_pending``)
  and records the batch's file list INSIDE the offset, so a checkpoint
  replay rebuilds the exact batch with no driver-side state;
- ``read`` runs in executor tasks — one input partition per notified
  file, fetched and gz/zstd-decompressed there (http(s) rides
  ``sources.http_datasource.fetch_lines``), never through the driver;
- the batch's messages are deleted in ``partitions`` — which Spark
  calls only AFTER the planned offset is durably in the checkpoint's
  offset WAL. That is strictly safer than the reference's
  delete-after-channel-handoff (sqs.go:235-238): once the message is
  gone, its file list is already journaled, so a crash anywhere in the
  batch replays from the WAL instead of losing records; a crash
  between poll and WAL write leaves the message undeleted for
  redelivery (an in-flight set keyed on (queue, path) dedups
  visibility-timeout redeliveries meanwhile, keeping the newest
  receipt handle so the delete uses a live one).

Clients: production passes queue names and builds a boto3 client
(import-guarded — boto3 is not bundled here); tests and local demos
use the observable ``fake_dir`` backdoor, a directory where every
``*.msg`` file is one pending message body and delete = unlink (a
named queue is the sub-directory of that name).
"""

from __future__ import annotations

import os
import re
import uuid
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, SparkSession, functions as F
from pyspark.sql.datasource import (
    DataSource,
    DataSourceStreamReader,
    InputPartition,
)

from baker_spark.sources.http_datasource import SCHEMA, fetch_lines
from baker_spark.sources.list_source import split_fields
from baker_spark.streaming.sqs import SQSConfig, SQSPoller

#: how long a key replayed from the WAL suppresses redeliveries. If no
#: redelivery arrives within the window, the pre-crash delete evidently
#: SUCCEEDED and the entry must expire — a permanent entry would swallow
#: a future legitimate re-notification of the same path (producer
#: re-puts new content at the same key) forever. 900 s is past any sane
#: SQS visibility timeout, so a genuine straggler redelivers well inside
#: it.
REPLAY_SUPPRESS_SECS = 900.0


class DirQueueClient:
    """boto3-SQS-shaped client over a spool directory: each ``*.msg``
    file is one pending message (body = file content), receipt handle =
    file name, delete = unlink. Append a file to 'send'; look at the
    directory to see what is still pending — an observable queue for
    tests and local demos."""

    def __init__(self, root: str):
        self.root = root

    def get_queue_url(self, QueueName: str) -> dict:
        return {"QueueUrl": os.path.join(self.root, QueueName)}

    def list_queues(self, QueueNamePrefix: str = "") -> dict:
        names = sorted(
            n for n in os.listdir(self.root)
            if n.startswith(QueueNamePrefix) and os.path.isdir(os.path.join(self.root, n))
        )
        return {"QueueUrls": [os.path.join(self.root, n) for n in names]}

    def receive_message(self, QueueUrl: str, MaxNumberOfMessages: int = 10, **_) -> dict:
        try:
            names = sorted(n for n in os.listdir(QueueUrl) if n.endswith(".msg"))
        except FileNotFoundError:
            return {"Messages": []}
        messages = []
        for n in names[:MaxNumberOfMessages]:
            try:
                with open(os.path.join(QueueUrl, n)) as fh:
                    body = fh.read()
            except FileNotFoundError:
                continue  # deleted between list and read
            # an SQS body is never empty: an empty file is a message
            # whose writer has opened but not yet written it
            if body:
                messages.append({"Body": body, "ReceiptHandle": n})
        return {"Messages": messages}

    def delete_message(self, QueueUrl: str, ReceiptHandle: str) -> None:
        try:
            os.unlink(os.path.join(QueueUrl, ReceiptHandle))
        except FileNotFoundError:
            pass  # stale handle after redelivery — SQS tolerates this too


def _local_lines(path: str):
    """Executor-side line reader for a local/file:// path — the same
    newline + extension-codec dialect as the http branch, with the
    file's mtime as last_modified (list.go uses the store's own
    timestamp per scheme)."""
    from baker_spark.sources.http_datasource import (
        decompress_by_extension,
        iter_line_blocks,
    )

    if path.startswith("file://"):
        path = path[len("file://"):]
    lastmod = datetime.fromtimestamp(os.stat(path).st_mtime, tz=timezone.utc).replace(
        tzinfo=None
    )
    stream = decompress_by_extension(open(path, "rb"), path)
    for block in iter_line_blocks(stream):
        for line in block:
            yield line, lastmod


def _s3_lines(path: str, region: str, endpoint_url: str = ""):
    """Executor-side line reader for an s3:// object — boto3 GetObject
    (the executor analog of sqs.go's openFile S3 branch, which also
    reads LastModified off the response). boto3 is not bundled in this
    repo's sandbox; the import is guarded so the error names the real
    dependency instead of a FileNotFoundError on a 's3://...' path.
    ``endpoint_url`` targets LocalStack/moto (test_moto_aws.py)."""
    try:
        import boto3
    except ImportError as e:  # pragma: no cover — boto3 absent here
        raise RuntimeError(
            f"bakersqs: {path!r} needs boto3 on the executors to fetch "
            "S3 objects (pip install boto3 in the cluster environment)"
        ) from e
    from urllib.parse import urlsplit

    from baker_spark.sources.http_datasource import (
        decompress_by_extension,
        iter_line_blocks,
    )

    u = urlsplit(path)
    kw = {"region_name": region}
    if endpoint_url:
        kw["endpoint_url"] = endpoint_url
    resp = boto3.client("s3", **kw).get_object(
        Bucket=u.netloc, Key=u.path.lstrip("/")
    )
    lastmod = resp.get("LastModified")
    if lastmod is not None:
        lastmod = lastmod.astimezone(timezone.utc).replace(tzinfo=None)
    stream = decompress_by_extension(resp["Body"], u.path)
    for block in iter_line_blocks(stream):
        for line in block:
            yield line, lastmod


class _FilePartition(InputPartition):
    def __init__(self, path: str):
        self.path = path


class SQSStreamReader(DataSourceStreamReader):
    def __init__(self, options):
        cfg = SQSConfig(
            queue_names=_split(options.get("queue_names")),
            queue_prefixes=_split(options.get("queue_prefixes")),
            message_format=options.get("message_format") or "plain",
            message_expression=options.get("message_expression") or "",
            bucket=options.get("bucket") or "",
            file_path_filter=options.get("file_path_filter") or "",
        )
        # read()'s executor-side S3 fetches hit the same regional
        # endpoint as the driver's queue client
        self._region = options.get("aws_region") or "us-west-2"
        self._endpoint = options.get("endpoint_url") or ""
        fake_dir = options.get("fake_dir")
        if fake_dir:
            client = DirQueueClient(fake_dir)
            if not cfg.queue_names and not cfg.queue_prefixes:
                cfg.queue_names = [""]  # the spool root itself is the queue
        else:
            import boto3

            kw = {"region_name": self._region}
            if self._endpoint:
                kw["endpoint_url"] = self._endpoint
            client = boto3.client("sqs", **kw)
        self._poller = SQSPoller(cfg, client)
        self._client = client
        self._bucket = cfg.bucket
        self._seq = 0
        #: per-run nonce stamped into every offset this reader emits.
        #: _seq restarts at 0 after a checkpoint restore; without the
        #: nonce the first post-restart offset can COLLIDE with the
        #: WAL's last offset (same seq + files — e.g. batch committed,
        #: its delete failed, then crash), Spark sees no offset change,
        #: partitions() never runs, and the redelivered message wedges
        #: in _inflight forever. A fresh nonce makes post-restart
        #: offsets always differ, costing exactly one empty batch.
        self._run = uuid.uuid4().hex[:12]
        #: (queue_url, path) -> newest receipt handle, awaiting commit
        self._inflight: dict[tuple[str, str], str] = {}
        #: keys replayed from the WAL whose delete never ran (crash
        #: between journal and delete): the next poll deletes them
        #: instead of re-admitting — their rows are already in a batch.
        #: Value = suppression deadline (monotonic, see
        #: REPLAY_SUPPRESS_SECS).
        self._replayed: dict[tuple[str, str], float] = {}
        #: last offset handed to Spark — re-returned VERBATIM while no
        #: new files arrive (a changed-but-equal-seq offset would plan
        #: an endless run of empty batches)
        self._last_offset = {"seq": 0, "run": self._run, "files": []}

    # --- driver-side planning -------------------------------------------
    def initialOffset(self) -> dict:
        return {"seq": 0, "files": []}

    def latestOffset(self) -> dict:
        import time as _time

        now = _time.monotonic()
        for k in [k for k, dl in self._replayed.items() if dl < now]:
            del self._replayed[k]
        pending = self._poller.poll_pending()
        new = []
        for path, queue_url, handle in pending:
            if self._bucket and "://" not in path:
                # a configured Bucket makes the parser emit bare keys
                # (sqs.py parse, sqs.go:183-187) — qualify them here so
                # the offset journals a fetchable URL
                path = f"s3://{self._bucket}/{path}"
            key = (queue_url, path)
            if key in self._replayed:
                # this file's batch is already journaled (planned before
                # a restart): delete the straggler, never re-admit it
                try:
                    self._client.delete_message(QueueUrl=queue_url, ReceiptHandle=handle)
                    del self._replayed[key]
                except Exception:  # noqa: BLE001 — retry next poll
                    pass
                continue
            if key not in self._inflight:
                new.append([path, queue_url])
            else:
                # duplicate notification for an in-flight file (two
                # messages naming the same path, or a visibility-timeout
                # redelivery): keep the NEWEST handle — only it deletes
                # reliably — and delete the superseded message NOW.
                # Dropping it silently would let a distinct duplicate
                # message redeliver after partitions() popped this key
                # and re-admit the same file as a fresh batch (the
                # reference deletes every parsed message, sqs.go:242).
                # For a redelivery the old handle is already dead and
                # the delete is a harmless no-op/error.
                try:
                    self._client.delete_message(
                        QueueUrl=queue_url, ReceiptHandle=self._inflight[key]
                    )
                except Exception:  # noqa: BLE001
                    pass
            self._inflight[key] = handle
        if new:
            self._seq += 1
            self._last_offset = {"seq": self._seq, "run": self._run, "files": new}
        return self._last_offset

    def partitions(self, start: dict, end: dict):
        # Spark plans partitions only after `end` is in the offset WAL:
        # deleting here means the file list is journaled BEFORE the
        # message disappears — replay-safe where the reference's
        # handoff-then-delete can drop records on a crash
        for path, queue_url in end.get("files", []):
            key = (queue_url, path)
            handle = self._inflight.pop(key, None)
            if handle is None:
                # checkpoint replay after restart: the handle died with
                # the old process. If the message still exists it will
                # redeliver — mark it (bounded by the suppression window,
                # see _replayed) so the next poll deletes instead of
                # re-admitting rows that are already in this batch
                import time as _time

                self._replayed[key] = _time.monotonic() + REPLAY_SUPPRESS_SECS
                continue
            try:
                self._client.delete_message(QueueUrl=queue_url, ReceiptHandle=handle)
            except Exception:  # noqa: BLE001 — sqs.go:242-244: log, keep going
                pass
        return [_FilePartition(path) for path, _queue in end.get("files", [])]

    def commit(self, end: dict) -> None:
        pass  # deletes happen at partition-planning time, post-WAL

    # --- executor-side --------------------------------------------------
    def __getstate__(self):
        # read() needs no driver machinery; boto3 clients don't pickle
        state = self.__dict__.copy()
        for k in ("_poller", "_client", "_inflight", "_replayed"):
            state.pop(k, None)
        return state

    def read(self, partition):
        path = partition.path
        if path.startswith(("http://", "https://")):
            lines = fetch_lines(path)
        elif path.startswith("s3://"):
            lines = _s3_lines(path, self._region, self._endpoint)
        else:
            lines = _local_lines(path)
        for line, lastmod in lines:
            yield line, path, lastmod


def _split(v: str | None) -> list[str]:
    if not v:
        return []
    return [p for p in (p.strip() for p in v.replace(",", "\n").split("\n")) if p]


class SQSStreamDataSource(DataSource):
    """``spark.readStream.format("bakersqs")`` — rows are the LINES of
    every notified file, with the file's url + last_modified metadata
    (the same record shape the batch List input produces)."""

    @classmethod
    def name(cls) -> str:
        return "bakersqs"

    def schema(self):
        return SCHEMA

    def streamReader(self, schema) -> SQSStreamReader:
        return SQSStreamReader(self.options)


def register(spark) -> None:
    spark.dataSource.register(SQSStreamDataSource)


@dataclass
class SQSSource(SQSConfig):
    """The SQS input: queues whose messages name files, streamed
    through ``readStream.format("bakersqs")`` — each batch's file list
    is journaled in the offset WAL before its messages are deleted, and
    the files are fetched on executors (input/sqs.go:192-287). Rows are
    the notified files' lines, split into the ``[fields]`` columns.
    QueueNames or QueuePrefixes is required (FakeDir stands in for
    both)."""

    #: AWS region of the queues and of the notified S3 objects
    aws_region: str = "us-west-2"
    #: test backdoor: a directory queue, one ``*.msg`` file per message
    #: (QueueNames name its sub-directories); no AWS client is built
    fake_dir: str | None = None
    #: the ``[fields]`` names and ``[csv]`` separator lines split into
    fields: list[str] = field(default_factory=list)
    separator: str = ","

    def __post_init__(self):
        # fail at construction, i.e. at TOML compile time, like the
        # reference's config load (sqs.go:105-131): no queue, a bad
        # MessageFormat or MessageExpression, an invalid FilePathFilter
        if not (self.queue_names or self.queue_prefixes or self.fake_dir):
            raise ValueError("SQS: QueuePrefixes or QueueNames must be set")
        self.parse_function()
        if self.file_path_filter:
            try:
                re.compile(self.file_path_filter)
            except re.error as exc:
                raise ValueError(f"SQS: invalid FilePathFilter: {exc}") from exc

    def dataframe(self, spark: SparkSession) -> DataFrame:
        register(spark)
        # every key is passed, the format too: the TOML default
        # MessageFormat is "sns", the bakersqs option default "plain"
        raw = (
            spark.readStream.format("bakersqs")
            .option("queue_names", ",".join(self.queue_names))
            .option("queue_prefixes", ",".join(self.queue_prefixes))
            .option("message_format", self.message_format)
            .option("message_expression", self.message_expression)
            .option("bucket", self.bucket)
            .option("file_path_filter", self.file_path_filter)
            .option("aws_region", self.aws_region)
            .option("fake_dir", self.fake_dir or "")
            .load()
        )
        return raw.select(*split_fields(F.col("value"), self.fields, self.separator))

    __call__ = dataframe
