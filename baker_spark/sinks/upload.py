"""Upload stage (/root/reference/upload/s3.go:22-52).

The reference's S3 upload watches a staging directory that FileWriter
rotates files into and pushes them to s3://bucket/prefix with retries.
On Spark this stage is usually UNNECESSARY: ``df.write`` targets
``s3a://`` directly with committer-based atomicity, so the idiomatic
topology writes straight to the destination (SURVEY.md §2.4).

``S3Upload`` exists for the one real use left — post-hoc copying of
sink-produced local artifacts (e.g. per-shard SQLite files) — and is a
driver-side hook, not a distributed job. boto3 is not bundled in this
environment; a client (or any callable uploader) is injected, and the
retry/drain semantics of the reference are preserved.
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass
from typing import Callable


@dataclass
class S3Upload:
    """Staging-dir upload to s3://bucket/prefix with retries (upload/s3.go)
    — prefer writing straight to s3a:// paths; this is the post-write hook."""

    source_base_path: str
    bucket: str
    prefix: str = ""
    retries: int = 3
    #: upload_fn(local_path, bucket, key) — injected (boto3's upload_file
    #: has this exact signature via functools.partial)
    upload_fn: Callable[[str, str, str], None] | None = None
    #: the reference DELETES each file after a successful upload
    #: (upload/s3.go:316 os.Remove) — that is what makes repeated run()
    #: calls a DRAIN: daemon mode calls run() after every micro-batch,
    #: and without the remove each pass re-uploads the whole ever-growing
    #: staging dir (O(batches x files) PUTs). False keeps files for
    #: callers doing a one-shot post-hoc copy they want to retain.
    remove_after: bool = True
    #: upload/s3.go:271-276: failures are logged and the drain continues
    #: unless ExitOnError — raising mid-scan would skip every remaining
    #: file this pass and, in daemon mode, kill the streaming query.
    exit_on_error: bool = False
    #: (key, error-string) pairs from the last run() when
    #: exit_on_error=False — the reference's log-and-continue trail
    errors: list | None = None
    #: LocalStack/moto/VPC endpoint for the DEFAULT upload_fn (ignored
    #: when upload_fn is injected)
    endpoint_url: str = ""

    @classmethod
    def from_config(
        cls,
        #: destination bucket
        bucket: str,
        #: staging directory whose files are uploaded, then removed
        source_base_path: str = "_out",
        #: key prefix inside the bucket
        prefix: str = "",
        #: attempts per file after the first, with doubling backoff
        retries: int = 3,
        #: raise on a file that fails every retry instead of logging it
        #: and draining on (upload/s3.go ExitOnError)
        exit_on_error: bool = False,
    ) -> "S3Upload":
        return cls(
            source_base_path=source_base_path,
            bucket=bucket,
            prefix=prefix,
            retries=int(retries),
            exit_on_error=bool(exit_on_error),
        )

    def _default_upload(self):
        try:
            import boto3  # type: ignore
        except ImportError as e:  # pragma: no cover — boto3 absent here
            raise RuntimeError("boto3 not installed; pass upload_fn=") from e
        kw = {"endpoint_url": self.endpoint_url} if self.endpoint_url else {}
        client = boto3.client("s3", **kw)
        return lambda path, bucket, key: client.upload_file(path, bucket, key)

    def run(self) -> list[str]:
        """Scan the staging dir and upload everything, with retries
        (upload/s3.go:126-187,234-287). Returns uploaded keys."""
        upload = self.upload_fn or self._default_upload()
        uploaded = []
        self.errors = []
        for root, dirs, files in os.walk(self.source_base_path):
            # prune '.'/'_' DIRECTORIES too: a crashed Spark write leaves
            # _temporary/.spark-staging trees whose uncommitted part
            # files must never reach S3 (filtering only basenames walked
            # straight into them)
            dirs[:] = [d for d in dirs if not d.startswith((".", "_"))]
            for name in sorted(files):
                if name.startswith((".", "_")):
                    # Hadoop convention: '.'/'_'-prefixed files are
                    # non-data (committer _SUCCESS markers, .crc
                    # checksum siblings) — the reference's uploader only
                    # ever sees rotated data files in its staging dir
                    # (upload/s3.go:126-187), so pushing these would be
                    # new noise a migrating user never had
                    continue
                full = os.path.join(root, name)
                rel = os.path.relpath(full, self.source_base_path)
                key = os.path.join(self.prefix, rel) if self.prefix else rel
                delay = 0.1
                for attempt in range(self.retries + 1):
                    try:
                        upload(full, self.bucket, key)
                        uploaded.append(key)
                        if self.remove_after:
                            try:
                                os.remove(full)
                            except OSError:
                                pass  # already gone / unwritable: re-upload is safe
                        break
                    except Exception as exc:
                        if attempt == self.retries:
                            if self.exit_on_error:
                                raise
                            self.errors.append((key, str(exc)))
                            break
                        time.sleep(delay)
                        delay *= 2
        return uploaded
