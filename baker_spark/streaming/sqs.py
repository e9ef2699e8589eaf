"""SQS file-notification input — the reference's queue-driven daemon
source (/root/reference/input/sqs.go): messages on one or more SQS
queues name S3 files; each named file is fetched and fed through the
topology. Message payloads come in four formats
(/root/reference/input/sqs.go:53-77 ``fillDefaults``):

- ``plain``            — the body IS the S3 path
- ``sns``              — SNS notification JSON; path under ``Message``
- ``s3::objectcreated``— S3 ObjectCreated notification; path assembled
                         from ``Records[*] s3.bucket.name / s3.object.key``
- ``json``             — arbitrary JSON; path extracted by a user
                         JMESPath ``MessageExpression``

This module holds the driver-side half: **parsing** (pure functions)
turns a message body into a file path — same rules as sqs.go:143-189
including the bucket-relative rewrite and URL unescaping
(sqs.go:222-226) — and **polling** (:class:`SQSPoller`) runs over an
*injectable* boto3-shaped client. Only the driver talks to SQS.
Ingestion is the ``bakersqs`` streaming data source
(streaming/sqs_datasource.py), which journals each batch's file list in
the offset WAL, fetches the files on executors, and deletes the
messages only after that journal write.
"""

from __future__ import annotations

import json
import logging
import re
import urllib.parse
from dataclasses import dataclass, field
from typing import Callable

log = logging.getLogger(__name__)

#: messages taken per queue per poll — SQS's per-receive maximum
#: (ReceiveMessage MaxNumberOfMessages)
MAX_MESSAGES = 10

#: sqs.go:68 — the jmespath expression the reference compiles for
#: MessageFormat="s3::ObjectCreated".
S3_OBJECT_CREATED_EXPR = (
    "Records[*].join('/',['s3:/', s3.bucket.name, s3.object.key]) | [0]"
)


@dataclass
class SQSConfig:
    """Mirror of SQSConfig (sqs.go:41-51)."""

    #: queues to poll, by name
    queue_names: list[str] = field(default_factory=list)
    #: poll every queue whose name starts with one of these
    queue_prefixes: list[str] = field(default_factory=list)
    #: plain, sns, s3::ObjectCreated or json
    message_format: str = "sns"
    #: JMESPath to the file path (MessageFormat json only)
    message_expression: str = ""
    #: when set, notified paths become keys in this S3 bucket
    bucket: str = ""
    #: regex a notified path must match; misses are deleted unread
    file_path_filter: str = ""

    def parse_function(self) -> Callable[[str], str]:
        """Message-body -> file-path function (sqsParseFunction,
        sqs.go:143-189). Raises ValueError on a bad config, and the
        returned function raises ValueError on an unparsable message."""
        fmt = (self.message_format or "sns").lower()
        if fmt == "plain":
            return lambda body: body
        if fmt in ("sns", ""):
            expr = "Message"
        elif fmt == "s3::objectcreated":
            expr = S3_OBJECT_CREATED_EXPR
        elif fmt == "json":
            if not self.message_expression:
                raise ValueError("MessageExpression is required with json MessageFormat")
            expr = self.message_expression
        else:
            raise ValueError(f"unknown MessageFormat {self.message_format!r}")

        import jmespath  # stdlib-adjacent, pure python; baked into this env

        compiled = jmespath.compile(expr)
        bucket = self.bucket

        def parse(body: str) -> str:
            try:
                doc = json.loads(body)
            except json.JSONDecodeError as e:
                raise ValueError("can't decode json from SQS message") from e
            found = compiled.search(doc)
            if found is None:
                raise ValueError("can't find S3 path field in SQS message")
            if not isinstance(found, str):
                raise ValueError("extracted field is not a string")
            if not bucket:
                return found
            # bucket configured: the message path is rewritten relative
            # to it — keep only the key (sqs.go:183-187)
            return urllib.parse.urlsplit(found).path.lstrip("/")

        return parse


def _log_error(body: str, exc: Exception) -> None:
    log.warning("SQS: message left for redelivery: %s (body %.200r)", exc, body)


class SQSPoller:
    """Driver-side poll step: queues -> parsed, filtered file paths.

    Mirrors SQS.pollQueue/Run (sqs.go:192-287): resolve queue URLs from
    names and prefixes, receive, parse, URL unescape, apply
    FilePathFilter. A message whose body fails to parse is logged (a
    warning, unless ``on_error`` says otherwise) and left for
    redelivery, exactly like the reference's continue-without-delete."""

    def __init__(
        self,
        cfg: SQSConfig,
        client,
        on_error: Callable[[str, Exception], None] = _log_error,
    ):
        self.cfg = cfg
        self.client = client
        self.on_error = on_error
        self.parse = cfg.parse_function()
        self.filepath_rx = re.compile(cfg.file_path_filter) if cfg.file_path_filter else None
        if not cfg.queue_names and not cfg.queue_prefixes:
            raise ValueError("SQS: QueuePrefixes or QueueNames must be set")

    def queue_urls(self) -> list[str]:
        # resolved ONCE and cached, like the reference's Run-start
        # resolution (sqs.go:249-287) — re-resolving per poll would add
        # a GetQueueUrl/ListQueues API call per queue every second
        if getattr(self, "_urls", None) is None:
            urls = [
                self.client.get_queue_url(QueueName=n)["QueueUrl"]
                for n in self.cfg.queue_names
            ]
            for prefix in self.cfg.queue_prefixes:
                urls.extend(
                    self.client.list_queues(QueueNamePrefix=prefix).get("QueueUrls", [])
                )
            # a name and a prefix may resolve to the same queue; poll once
            self._urls = list(dict.fromkeys(urls))
        return self._urls

    def poll_pending(self) -> list[tuple[str, str, str]]:
        """One receive per queue deferring the ADMITTED deletes: returns
        ``(path, queue_url, receipt_handle)`` per admitted message. The
        streaming data source moves the delete to after the offset WAL
        write (the reference's delete-after-handoff, sqs.go:235-238,
        upgraded to delete-after-journal). A parse failure is left
        undeleted for redelivery (sqs.go:221-226); a FilePathFilter
        miss is deleted right here — the reference deletes every parsed
        message, filtered-out included."""
        out: list[tuple[str, str, str]] = []
        for url in self.queue_urls():
            resp = self.client.receive_message(
                QueueUrl=url, MaxNumberOfMessages=MAX_MESSAGES, WaitTimeSeconds=0
            )
            for msg in resp.get("Messages", []):
                body = msg["Body"]
                try:
                    path = self.parse(body)
                except ValueError as exc:
                    self.on_error(body, exc)
                    continue
                # sqs.go:222-226 unescapes before filtering
                path = urllib.parse.unquote_plus(path)
                if self.filepath_rx is None or self.filepath_rx.search(path):
                    out.append((path, url, msg["ReceiptHandle"]))
                else:
                    try:
                        self.client.delete_message(
                            QueueUrl=url, ReceiptHandle=msg["ReceiptHandle"]
                        )
                    except Exception as exc:  # noqa: BLE001 — sqs.go:242-244
                        self.on_error(body, exc)
        return out
