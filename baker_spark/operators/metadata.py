"""Metadata-driven operators.

The reference attaches ``url`` and ``last_modified`` metadata to each
ingested blob (/root/reference/api.go:12-21, keys set at
/root/reference/input/inpututils/compressedstream.go:40-43). Spark's file
sources expose the same facts as ``input_file_name()`` and the hidden
``_metadata.file_modification_time`` column; sources in this engine
materialize them as ``_bk_url`` / ``_bk_last_modified`` so the operators
keep working after joins/shuffles.
"""

from __future__ import annotations

from functools import reduce

from pyspark.sql import Column, DataFrame, functions as F

from baker_spark.operators.base import Operator, register

URL_COL = "_bk_url"
LASTMOD_COL = "_bk_last_modified"


def _url(df: DataFrame) -> Column:
    return F.col(URL_COL) if URL_COL in df.columns else F.input_file_name()


def _last_modified(df: DataFrame) -> Column:
    if LASTMOD_COL in df.columns:
        return F.col(LASTMOD_COL)
    # the hidden _metadata struct only resolves on a frame DIRECTLY
    # backed by a file scan; probe resolution so a created/aggregated
    # frame degrades to "missing metadata clears the field" (the
    # reference's rule, metadata_lastmodified.go) instead of killing the
    # whole job with UNRESOLVED_COLUMN — MetadataUrl already degrades
    # this way because input_file_name() just returns ''
    try:
        # .schema forces ANALYSIS: under Spark Connect, select() only
        # builds a client-side plan and raises nothing, so without it
        # the probe always "succeeds" and the unresolvable column kills
        # the real job at action time
        df.select(F.col("_metadata.file_modification_time")).schema
    except Exception:
        return F.lit(None).cast("timestamp")
    return F.col("_metadata.file_modification_time")


@register
class MetadataUrl(Operator):
    """Copy the record's source URL into a field
    (/root/reference/filter/metadata_url.go:12-79; missing url clears)."""

    name = "MetadataUrl"

    def __init__(self, dst_field: str):
        self.dst = dst_field

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withColumn(self.dst, F.coalesce(_url(df), F.lit("")))


@register
class MetadataLastModified(Operator):
    """Copy the source file's last-modified unix seconds into a field
    (/root/reference/filter/metadata_lastmodified.go:12-58)."""

    name = "MetadataLastModified"

    def __init__(self, dst_field: str):
        self.dst = dst_field

    def apply(self, df: DataFrame) -> DataFrame:
        secs = F.unix_timestamp(_last_modified(df))
        return df.withColumn(self.dst, F.coalesce(secs.cast("string"), F.lit("")))


@register
class SetStringFromURL(Operator):
    """If the source URL contains one of the strings, set the field to
    that string and pass; otherwise drop the record
    (/root/reference/filter/set_string_from_url.go:14-84)."""

    name = "SetStringFromURL"

    def __init__(self, field: str, strings: list[str]):
        if not strings:
            raise ValueError("Strings must not be empty")
        self.field, self.strings = field, list(strings)

    def apply(self, df: DataFrame) -> DataFrame:
        url = _url(df)
        expr = reduce(
            lambda acc, s: acc.when(url.contains(s), F.lit(s)),
            self.strings[1:],
            F.when(url.contains(self.strings[0]), F.lit(self.strings[0])),
        )
        return df.withColumn(self.field, expr).filter(F.col(self.field).isNotNull())
