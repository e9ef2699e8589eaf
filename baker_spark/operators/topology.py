"""Topology-level operators: validation, field selection, sharding,
record fan-out (SURVEY.md §2.5)."""

from __future__ import annotations

from functools import reduce

from pyspark.sql import DataFrame, functions as F

from baker_spark.functions.hashing import md5_long
from baker_spark.operators.base import Operator, register


@register
class Validation(Operator):
    """Per-field regex validation; invalid rows are dropped and countable
    by their first failing field (/root/reference/config.go:474-523,
    applied at /root/reference/topology.go:376-386)."""

    name = "Validation"

    def __init__(self, fields: dict[str, str]):
        self.fields = dict(fields)  # field -> regex

    def _ok(self, field: str, rx: str):
        return F.coalesce(F.col(field).cast("string"), F.lit("")).rlike(rx)

    def _pred(self):
        """The AND of all per-field checks — the single source of truth
        shared by :meth:`apply` and :meth:`total_invalid`, so the kept
        rows and the quarantine count can never disagree. An empty
        [validation] section validates everything (the reference simply
        builds zero per-field checkers, config.go:474-523), so the
        reduce gets an explicit identity instead of raising TypeError
        at compile time."""
        return reduce(
            lambda a, b: a & b,
            (self._ok(f, rx) for f, rx in self.fields.items()),
            F.lit(True),
        )

    def apply(self, df: DataFrame) -> DataFrame:
        return df.filter(self._pred())

    def quarantine(self, df: DataFrame) -> DataFrame:
        """Invalid rows, tagged with the first failing field — mirrors the
        reference's per-field invalid counters."""
        first_bad = F.lit(None).cast("string")
        for f, rx in reversed(list(self.fields.items())):
            first_bad = F.when(~self._ok(f, rx), F.lit(f)).otherwise(first_bad)
        return (
            df.withColumn("_bk_invalid_field", first_bad)
            .filter(F.col("_bk_invalid_field").isNotNull())
        )

    def invalid_counts(self, df: DataFrame) -> DataFrame:
        return (
            self.quarantine(df)
            .groupBy(F.col("_bk_invalid_field").alias("field"))
            .agg(F.count("*").alias("n"))
        )

    def total_invalid(self, df: DataFrame) -> DataFrame:
        """Quarantine count as an ungrouped aggregate — ALWAYS one row
        (0 when everything validates), so it is safe to crossJoin as a
        broadcast scalar. ``invalid_counts`` returns zero rows on a fully
        valid input, which would annihilate whatever it is joined to."""
        return df.agg(F.count(F.when(~self._pred(), 1)).alias("n_quarantined"))


@register
class FieldSelect(Operator):
    """Output field projection ([output] fields=...,
    /root/reference/topology.go:126-132,330-339)."""

    name = "FieldSelect"

    def __init__(self, fields: list[str]):
        self.fields = list(fields)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.select(*self.fields)


@register
class Shard(Operator):
    """Hash-shard rows so the same key lands in the same partition
    (/root/reference/topology.go:341-347 routes by ShardingFunc % procs;
    the sharding example uses FNV, examples/sharding/shard.go:10-27).

    ``df.repartition(n, key)`` gives Spark's native co-location guarantee;
    ``deterministic=True`` uses the md5-derived hash so the shard *number*
    itself is reproducible cross-engine (exposed as ``shard_column``).
    """

    name = "Shard"

    def __init__(self, field: str, procs: int = 32, deterministic: bool = False):
        self.field, self.procs, self.deterministic = field, procs, deterministic

    def shard_column(self):
        # coalesce to '': the record model's two empty encodings (NULL
        # from a short CSV line, '' from an empty cell) must land on ONE
        # shard — the reference hashes both as empty bytes. md5_long of
        # NULL would be NULL (its own pmod), splitting the empty key.
        key = F.coalesce(F.col(self.field).cast("string"), F.lit(""))
        return F.pmod(md5_long(key), F.lit(self.procs))

    def apply(self, df: DataFrame) -> DataFrame:
        if self.deterministic:
            return df.repartition(self.procs, self.shard_column())
        return df.repartition(
            self.procs, F.coalesce(F.col(self.field).cast("string"), F.lit(""))
        )


@register
class Explode(Operator):
    """Record fan-out — one input row emits N output rows, the DataFrame
    analog of a filter calling next() multiple times
    (/root/reference/api.go:90-93). Splits ``source`` on ``separator``
    into one row per element, written to ``dst``."""

    name = "Explode"

    def __init__(self, source: str, dst: str | None = None, separator: str = ";"):
        import re

        self.source, self.dst = source, dst or source
        self.sep_rx = re.escape(separator)

    def apply(self, df: DataFrame) -> DataFrame:
        # coalesce first: NULL == '' in the record model — explode(NULL)
        # would emit ZERO rows and delete the record, while '' fans out
        # to one row with an empty element (a missing field is empty
        # bytes in the reference, record.go:35-39)
        src = F.coalesce(F.col(self.source).cast("string"), F.lit(""))
        return df.withColumn(self.dst, F.explode(F.split(src, self.sep_rx, -1)))
