"""List input — read newline-record CSV-ish files from a list of
locations (/root/reference/input/list.go:30-54,89-164,393-418).

Reference capabilities and their Spark disposition:

- local path / ``file://`` / ``s3://``  -> Hadoop FS URIs
  (``s3://`` rewritten to ``s3a://``)
- ``http(s)://`` -> the ``bakerhttp`` Python data source
  (sources/http_datasource.py): one input partition per URL, fetched
  and decompressed INSIDE the task, never through the driver, with the
  reference's metadata fidelity — ``url`` is the original URL and
  ``last_modified`` the Last-Modified response header
  (input/list.go:142-157), not a spool path and its local mtime
- recursive directory walk with ``MatchPath`` regex -> explicit listing +
  ``recursiveFileLookup`` (regex applied on the driver, like the
  reference's filepath.Walk)
- ``@listfile`` indirection -> the list file is read and expanded
- ``-`` stdin -> read stdin to a spool file
- gzip/zstd -> Spark/Hadoop codecs decompress by extension natively
- metadata ``url`` / ``last_modified`` -> materialized as ``_bk_url`` and
  ``_bk_last_modified`` columns (SURVEY.md §1.1)

Records are parsed as CSV with a single-byte separator and *no quoting*
(/root/reference/logline.go:21-31): every column is StringType, supplied
by ``fields`` (the ``[fields] names`` list — schema is external, never
inferred, /root/reference/config.go:427-468).
"""

from __future__ import annotations

import os
import re
import sys
import tempfile
import urllib.request

from pyspark.sql import Column, DataFrame, SparkSession, functions as F, types as T

from baker_spark.operators.metadata import LASTMOD_COL, URL_COL


def string_schema(fields: list[str]) -> T.StructType:
    return T.StructType([T.StructField(f, T.StringType(), True) for f in fields])


def split_fields(line: Column, fields: list[str], separator: str) -> list[Column]:
    """baker's positional, no-quote LogLine split (logline.go:21-31) of a
    string column into one column per name: missing trailing fields ->
    NULL (as the CSV reader's PERMISSIVE mode gives), empty fields ->
    "", extra separators dropped. ``try_element_at``, not
    ``element_at``: on a session with ANSI mode on, plain element_at
    throws INVALID_ARRAY_INDEX for a short line instead."""
    parts = F.split(line, re.escape(separator), -1)
    return [F.try_element_at(parts, F.lit(i + 1)).alias(name) for i, name in enumerate(fields)]


class ListSource:
    """The List input: newline-record files from local/file/s3/http paths,
    dirs + MatchPath regex, @listfile indirection, stdin, gz/zstd
    (input/list.go:30-54)."""

    #: attach the url/last_modified metadata columns; set False on an
    #: instance for the bare record columns
    attach_metadata = True

    def __init__(
        self,
        files: list[str],
        fields: list[str],
        separator: str = ",",
        match_path: str | None = None,
        region: str = "us-west-2",
        s3_endpoint_url: str = "",
    ):
        if len(separator) != 1:
            raise ValueError("separator must be a single character")
        self.files = list(files)
        self.fields = list(fields)
        self.separator = separator
        self.match_path = re.compile(match_path) if match_path else None
        #: AWS region for ListObjectsV2 prefix walks (the reference's
        #: ``Region`` option, input/list.go:60 default us-west-2)
        self.region = region
        #: S3 endpoint for s3:// DIRECTORY listings, which go through
        #: boto3 and not the Hadoop fs.s3a.* conf the data read uses — a
        #: MinIO/LocalStack/VPC deployment that sets fs.s3a.endpoint sets
        #: this too. "" leaves it to boto3, which reads
        #: $AWS_ENDPOINT_URL_S3 and otherwise targets AWS.
        self.s3_endpoint_url = s3_endpoint_url
        self._spool = tempfile.mkdtemp(prefix="baker_spark_stdin_")
        #: set once by the first _spool_stdin (stdin can't be re-read)
        self._stdin_spool: str | None = None
        #: http(s) URLs split out by resolve() for the bakerhttp source
        self._http_urls: list[str] = []
        #: ListObjectsV2 page size (the API max, input/list.go:313);
        #: tests shrink it to pin the ContinuationToken loop
        self._s3_page_size = 1000

    def _spool_stdin(self) -> str:
        # spooled ONCE per source: stdin is exhausted by the first read,
        # so a second resolve() (df rebuilt for a count, then for the
        # real write) would spool an EMPTY file and the scan would
        # silently return zero records. The single spool file is never
        # rewritten, so lazy DataFrames built from an earlier resolve()
        # keep reading valid bytes too.
        if self._stdin_spool is None:
            import uuid

            local = os.path.join(self._spool, f"stdin-{uuid.uuid4().hex[:12]}")
            with open(local, "wb") as fh:
                fh.write(sys.stdin.buffer.read())
            self._stdin_spool = local
        return self._stdin_spool

    def resolve(self) -> list[str]:
        """Expand @listfiles, directories, schemes -> concrete paths.
        http(s) data URLs go to ``self._http_urls`` (executor-side
        fetch); everything else returns as a scannable path."""
        out: list[str] = []
        self._http_urls = []
        queue = list(self.files)
        while queue:
            item = queue.pop(0)
            if item == "-":
                out.append(self._spool_stdin())
            elif item.startswith("@"):
                src = item[1:]
                if src.startswith(("http://", "https://")):
                    # an http LIST file (list.go:367-374): the list text
                    # itself is tiny coordinator metadata — read it here,
                    # its entries fan out like any other
                    from baker_spark.sources.http_datasource import FETCH_TIMEOUT_S

                    with urllib.request.urlopen(  # noqa: S310
                        src, timeout=FETCH_TIMEOUT_S
                    ) as fh:
                        body = fh.read().decode()
                    queue.extend(ln.strip() for ln in body.splitlines() if ln.strip())
                else:
                    with open(src) as fh:
                        queue.extend(line.strip() for line in fh if line.strip())
            elif item.startswith("http://") or item.startswith("https://"):
                self._http_urls.append(item)
            elif item.startswith("s3://"):
                if item.endswith("/"):
                    # remote directory: walk the prefix with
                    # ListObjectsV2 and apply MatchPath to each KEY,
                    # exactly like the reference (input/list.go:298-348
                    # matches `*obj.Key`, not the bucket-qualified URL)
                    out.extend(self._expand_s3_prefix(item))
                elif self.match_path is not None and self._s3_is_prefix(item):
                    # a directory given WITHOUT the trailing slash:
                    # handing it to the reader as a path would
                    # recursiveFileLookup every nested object with
                    # MatchPath silently never applied — the local-dir
                    # branch filters the no-slash form (os.path.isdir
                    # doesn't care), so the s3 form must too. One
                    # ListObjectsV2 probe decides object-vs-prefix; only
                    # reached when match_path is set, so plain object
                    # lists never touch boto3.
                    out.extend(self._expand_s3_prefix(item + "/"))
                else:
                    out.append("s3a://" + item[len("s3://") :])
            else:
                path = item[len("file://") :] if item.startswith("file://") else item
                if os.path.isdir(path):
                    for root, _dirs, names in os.walk(path):
                        for n in sorted(names):
                            full = os.path.join(root, n)
                            if self.match_path is None or self.match_path.search(full):
                                out.append(full)
                else:
                    out.append(path)
        return out

    def _s3_client(self, item: str):
        kw: dict = {"region_name": self.region}
        if self.s3_endpoint_url:
            kw["endpoint_url"] = self.s3_endpoint_url
        try:
            import boto3  # type: ignore
        except ImportError as e:  # pragma: no cover — boto3 baked in here
            raise RuntimeError(
                f"listing remote directory {item!r} requires boto3; "
                "list concrete s3:// objects (or an @listfile) instead"
            ) from e
        return boto3.client("s3", **kw)

    def _s3_is_prefix(self, item: str) -> bool:
        """True when ``s3://bucket/key`` (no trailing slash) is a
        DIRECTORY — i.e. at least one object lives under ``key/``. One
        MaxKeys=1 listing on the driver."""
        rest = item[len("s3://") :]
        bucket, _, key = rest.partition("/")
        resp = self._s3_client(item).list_objects_v2(
            Bucket=bucket, Prefix=key.rstrip("/") + "/", MaxKeys=1
        )
        return bool(resp.get("Contents"))

    def _expand_s3_prefix(self, item: str) -> list[str]:
        """``s3://bucket/prefix/`` -> concrete ``s3a://bucket/key`` paths.

        Parity with the reference's remote walk (input/list.go:298-348):
        ListObjectsV2 over the prefix (paged, ContinuationToken), the
        MatchPath regex applied to each object KEY. Listing is driver-side
        coordinator metadata — the object BYTES still stream through the
        s3a reader on executors, so this scales like the local dir walk
        (one listing round-trip per 1000 keys, zero data through the
        driver). Zero-byte directory-marker keys (trailing "/") are
        dropped; the reference never emits them because its default
        MatchPath ``.*\\.log\\.gz`` can't match a trailing slash, but our
        match_path=None must not hand the CSV reader a pseudo-directory.
        """
        rest = item[len("s3://") :]
        bucket, _, prefix = rest.partition("/")
        client = self._s3_client(item)
        out: list[str] = []
        token: str | None = None
        while True:
            req = {"Bucket": bucket, "Prefix": prefix, "MaxKeys": self._s3_page_size}
            if token:
                req["ContinuationToken"] = token
            resp = client.list_objects_v2(**req)
            for obj in resp.get("Contents", []):
                key = obj["Key"]
                if key.endswith("/"):
                    continue
                if self.match_path is None or self.match_path.search(key):
                    out.append(f"s3a://{bucket}/{key}")
            if not resp.get("IsTruncated"):
                return out
            token = resp.get("NextContinuationToken")

    def dataframe(self, spark: SparkSession) -> DataFrame:
        paths = self.resolve()
        http_df = self._http_dataframe(spark) if self._http_urls else None
        if http_df is not None and not paths:
            return http_df
        reader = (
            spark.read.schema(string_schema(self.fields))
            .option("sep", self.separator)
            .option("quote", "")  # the reference CSV dialect has no quoting
            .option("header", "false")
            .option("mode", "PERMISSIVE")
            .option("emptyValue", "")
            # remote directories (s3a://...) have no os.walk branch;
            # recursion must come from the reader itself so nested
            # files load like the local walk does (input/list.go dirs)
            .option("recursiveFileLookup", "true")
        )
        df = self._attach_metadata(reader.csv(paths))
        return df.unionByName(http_df) if http_df is not None else df

    def _http_dataframe(self, spark: SparkSession) -> DataFrame:
        """http(s) URLs through the bakerhttp data source: executor-side
        fetch, then :func:`split_fields`, the same no-quote split the
        CSV branch applies."""
        from baker_spark.sources import http_datasource

        http_datasource.register(spark)
        raw = (
            spark.read.format(http_datasource.HttpLinesDataSource.name())
            .option(http_datasource.URLS_OPTION, "\n".join(self._http_urls))
            .load()
        )
        cols = split_fields(F.col("value"), self.fields, self.separator)
        if self.attach_metadata:
            cols += [F.col(URL_COL), F.col(LASTMOD_COL)]
        return raw.select(*cols)

    def _attach_metadata(self, df: DataFrame) -> DataFrame:
        """url + last_modified metadata columns (api.go:12-21 keys),
        shared by every file-backed source."""
        if not self.attach_metadata:
            return df
        return df.withColumns(
            {
                URL_COL: F.input_file_name(),
                LASTMOD_COL: F.col("_metadata.file_modification_time"),
            }
        )

    __call__ = dataframe
