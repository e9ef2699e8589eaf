"""Structured-file inputs for the TOML surface — JSON-lines and parquet.

The reference only reads newline CSV records (input/list.go); corpus
data mostly arrives as JSONL or parquet, so the topology compiler also
accepts:

    [input]
    name="JsonLines"          # or "Parquet"
    [input.config]
    files=["docs.jsonl.gz"]

Both reuse ListSource's path resolution (@listfile, dirs+MatchPath,
s3->s3a, http spool, stdin) and attach the same url/last-modified
metadata columns. Fields behave like the CSV source: the ``[fields]``
schema picks which top-level keys/columns become record fields (all
StringType for JSONL — baker's everything-is-bytes model, SURVEY.md
§1.2); parquet keeps its native types (it is self-describing).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, functions as F

from baker_spark.operators.metadata import LASTMOD_COL, URL_COL
from baker_spark.sources.list_source import ListSource, string_schema


class _NoHttpMixin:
    def _resolve_no_http(self):
        """resolve() DIVERTS http(s) URLs into _http_urls, which only
        ListSource's CSV dataframe consumes (the bakerhttp line-record
        source); silently returning the remaining paths here would make
        an http JSONL/parquet input an EMPTY read with no error."""
        paths = self.resolve()
        if self._http_urls:
            raise ValueError(
                "http(s) inputs are only supported by the CSV List input "
                f"(got {self._http_urls}); download to a file/s3 path for "
                "JsonLines/Parquet"
            )
        return paths


class JsonLinesSource(_NoHttpMixin, ListSource):
    """The JsonLines input: JSON-lines files resolved like the List
    input; the ``[fields]`` names pick the top-level keys, as strings."""

    def dataframe(self, spark: SparkSession) -> DataFrame:
        paths = self._resolve_no_http()
        df = (
            spark.read.schema(string_schema(self.fields))
            .option("mode", "PERMISSIVE")
            # remote directories need the reader to recurse (resolve()
            # only walks local dirs) — same option the CSV branch sets
            .option("recursiveFileLookup", "true")
            .json(paths)
        )
        return self._attach_metadata(df)

    __call__ = dataframe


class ParquetSource(_NoHttpMixin, ListSource):
    """The Parquet input: parquet files resolved like the List input,
    native types kept; ``[fields]`` is optional and selects columns."""

    def __init__(
        self,
        files,
        fields=None,
        match_path=None,
        region="us-west-2",
        s3_endpoint_url="",
    ):
        super().__init__(
            files,
            fields or [],
            match_path=match_path,
            region=region,
            s3_endpoint_url=s3_endpoint_url,
        )

    def dataframe(self, spark: SparkSession) -> DataFrame:
        df = spark.read.option("recursiveFileLookup", "true").parquet(
            *self._resolve_no_http()
        )
        if self.fields:
            df = df.select(*self.fields)
        return self._attach_metadata(df)

    __call__ = dataframe
