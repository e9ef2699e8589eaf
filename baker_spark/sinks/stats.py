"""Stats — the aggregating sink (/root/reference/output/stats.go:18-33).

The reference streams three ε-approximate quantile distributions to a CSV
report: record sizes (stats.go:41-101), per-field value frequencies
(stats.go:103-163) and timestamps (stats.go:165-231), using the
perks/quantile sketch. Spark's ``percentile_approx`` is the same sketch
family (Greenwald-Khanna); ``exact=True`` switches to the exact
``percentile`` for oracle-comparable output at test scale.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame, functions as F

#: the reference's quantile targets (stats.go:16,281-288)
DEFAULT_QUANTILES = [0.01, 0.05, 0.25, 0.50, 0.75, 0.95, 0.99]

#: the CSV report's quantile columns (stats.go:72,139,203): the nine
#: targets every section prints, in column order
CSV_QUANTILES = [0.01, 0.05, 0.10, 0.25, 0.50, 0.75, 0.90, 0.95, 0.99]

#: the header cells are literal in the reference ([]string literals fed
#: straight to csv.Write, no Sprintf pass — stats.go:68-75), so the
#: doubled percent signs appear verbatim in the file; kept bug-for-bug
_QUANT_HEADERS = [
    "1st %%ile", "5th %%ile", "10th %%ile", "25th %%ile", "50th %%ile",
    "75th %%ile", "90th %%ile", "95th %%ile", "99th %%ile",
]


@dataclass
class Stats:
    """Aggregating sink: record-size distribution, per-field value
    frequencies, timestamp distribution, quantiles (output/stats.go)."""

    fields: list[str] = field(default_factory=list)  # frequency-tracked fields
    timestamp_field: str | None = None
    quantiles: list[float] = field(default_factory=lambda: list(DEFAULT_QUANTILES))
    exact: bool = False
    #: topology field_separator — record sizes measure ToText bytes
    separator: str = ","
    #: when set, ``write`` also emits the reference's CSV report here
    #: (StatsConfig.CSVPath, output/stats.go:31 — default "stats.csv")
    csv_path: str | None = None

    @classmethod
    def from_config(
        cls,
        separator: str,
        output_fields: list[str] | None,
        #: frequency-tracked fields when [output] lists none; the
        #: reference reads only the [output] list (stats.go:258)
        fields: list[str] = (),
        #: record field whose values are parsed as event timestamps
        timestamp_field: str | None = None,
        #: where ``write`` puts the CSV report (StatsConfig.CSVPath,
        #: output/stats.go:31)
        csv_path: str = "stats.csv",
    ) -> "Stats":
        return cls(
            fields=list(output_fields or fields),
            timestamp_field=timestamp_field,
            separator=separator,
            csv_path=csv_path,
        )

    def _quants(self, col):
        fn = F.percentile if self.exact else F.percentile_approx
        return fn(col, F.array(*[F.lit(q) for q in self.quantiles]))

    def record_sizes(self, df: DataFrame) -> DataFrame:
        """Distribution of serialized record length (stats.go:41-101)."""
        from baker_spark.sinks.filewriter import serialize_line

        # octet_length: the reference counts len(raw.Record) BYTES
        # (stats.go:308); F.length counts characters and diverges on
        # any non-ASCII corpus
        size = F.octet_length(serialize_line(df.columns, self.separator)).alias("size")
        return df.select(size).agg(
            F.count("*").alias("n"),
            F.min("size").alias("min_size"),
            F.max("size").alias("max_size"),
            F.avg("size").alias("avg_size"),
            self._quants(F.col("size")).alias("size_quantiles"),
        )

    def field_frequencies(self, df: DataFrame, top_k: int = 0) -> dict[str, DataFrame]:
        """Per-field value-frequency distributions (stats.go:103-163)."""
        out = {}
        for f in self.fields:
            freq = df.groupBy(F.col(f).cast("string").alias("value")).agg(
                F.count("*").alias("n")
            )
            if top_k:
                freq = freq.orderBy(F.desc("n"), "value").limit(top_k)
            out[f] = freq
        return out

    def timestamp_distribution(self, df: DataFrame) -> DataFrame:
        """Timestamp distribution (stats.go:165-231)."""
        if not self.timestamp_field:
            raise ValueError("timestamp_field not configured")
        ts = F.col(self.timestamp_field).cast("long").alias("ts")
        return df.select(ts).agg(
            F.count("ts").alias("n"),
            F.min("ts").alias("min_ts"),
            F.max("ts").alias("max_ts"),
            self._quants(F.col("ts")).alias("ts_quantiles"),
        )

    def write_csv(self, df: DataFrame, path: str) -> str:
        """Emit the reference's CSV report (stats.go createStatsCSV,
        output/stats.go:319-333): a section banner line, then a
        header+data row pair, for record sizes, timestamps (when
        configured) and each tracked field — where the per-field
        distribution is over VALUE FREQUENCIES (how many records share
        each distinct value, stats.go:118-126), not the values.

        The report is a driver-local file (the reference writes one
        stats.csv per process); the numbers come from the same
        distributed aggregations as :meth:`write`. Returns the text.
        Divergence kept on purpose: the reference's percentiles are
        ε-approximate (perks/quantile); ours are percentile_approx
        (same Greenwald-Khanna family) or exact with ``exact=True`` —
        byte-parity with the Go sketch is not a meaningful target, the
        row/column shape is."""
        own_cache = not df.is_cached
        if own_cache:
            df = df.persist()
        try:
            return self._emit_csv(df, path)
        finally:
            if own_cache:
                df.unpersist()

    def _emit_csv(self, df: DataFrame, path: str) -> str:
        """CSV assembly over an (assumed cached) frame — shared by
        :meth:`write_csv` and the ``csv_path``-configured :meth:`write`
        so neither pays a second upstream materialization."""
        lines = ["section,log line sizes,distribution of log lines sizes"]
        lines += self._sizes_csv(df)
        if self.timestamp_field:
            lines.append("section,timestamps,distribution of timestamps")
            lines += self._times_csv(df)
        for fname in self.fields:
            lines.append(
                f"section,{fname},distribution of number of log lines "
                f"per distinct {fname} value"
            )
            lines += self._field_csv(df, fname)
        text = "\n".join(lines) + "\n"
        with open(path, "w") as f:
            f.write(text)
        return text

    def _csv_quants(self, col):
        fn = F.percentile if self.exact else F.percentile_approx
        return fn(col, F.array(*[F.lit(q) for q in CSV_QUANTILES]))

    @staticmethod
    def _fmt(v) -> str:
        # Go fmt %v on float64 prints the shortest round-trip form with
        # no trailing ".0" on integral values; mirror that
        if v is None:
            return "0"
        if isinstance(v, float) and v.is_integer():
            return str(int(v))
        return str(v)

    def _sizes_csv(self, df: DataFrame) -> list[str]:
        from baker_spark.sinks.filewriter import serialize_line

        size = F.octet_length(serialize_line(df.columns, self.separator)).alias("s")
        r = (
            df.select(size)
            .agg(
                F.count("*").alias("n"),
                F.sum("s").cast("long").alias("tot"),
                F.min("s").alias("lo"),
                F.max("s").alias("hi"),
                self._csv_quants(F.col("s")).alias("q"),
            )
            .collect()[0]
        )
        header = (
            ["num samples (log lines)", "errors", "total bytes", "smallest"]
            + _QUANT_HEADERS
            + ["biggest"]
        )
        # errors: the reference counts records its OWN validation step
        # rejects (stats.go:51-54); in this topology validation runs as
        # an upstream operator (Validation quarantines before the sink),
        # so by the time rows reach the sink the count is 0
        data = (
            [self._fmt(r["n"]), "0", self._fmt(r["tot"]), self._fmt(r["lo"])]
            + [self._fmt(x) for x in (r["q"] or [None] * len(CSV_QUANTILES))]
            + [self._fmt(r["hi"])]
        )
        return [",".join(header), ",".join(data)]

    def _times_csv(self, df: DataFrame) -> list[str]:
        import datetime

        raw = F.col(self.timestamp_field).cast("string")
        ts = raw.cast("long")  # ANSI off: malformed -> null, like Atoi err
        r = (
            df.select(raw.alias("raw"), ts.alias("ts"))
            .agg(
                F.count(F.when(F.col("ts").isNotNull(), 1)).alias("n"),
                F.count(
                    F.when(F.col("raw").isNotNull() & F.col("ts").isNull(), 1)
                ).alias("errs"),
                F.count(F.when(F.col("raw").isNull(), 1)).alias("empties"),
                F.min("ts").alias("first"),
                F.max("ts").alias("last"),
                self._csv_quants(F.col("ts")).alias("q"),
            )
            .collect()[0]
        )

        def utc(v) -> str:
            # Go time.Unix(x, 0).UTC() default String() form
            # (stats.go:210-224): "2009-11-10 23:00:00 +0000 UTC"
            if v is None:
                return "0"
            dt = datetime.datetime.fromtimestamp(int(v), tz=datetime.timezone.utc)
            return dt.strftime("%Y-%m-%d %H:%M:%S +0000 UTC")

        # the first cell is the VALID count despite the header's
        # "(valid+invalid+empty)" claim: the reference prints
        # s.qt.Count() — only parseable timestamps enter the quantile
        # stream (stats.go:180-192,211) — under this exact header
        # string. The header is wrong IN THE REFERENCE; the golden
        # report mirrors its bytes, misleading label included.
        header = (
            ["num timestamps (valid+invalid+empty)", "num errors", "num empty", "first"]
            + _QUANT_HEADERS
            + ["last"]
        )
        data = (
            [self._fmt(r["n"]), self._fmt(r["errs"]), self._fmt(r["empties"]), utc(r["first"])]
            + [utc(x) for x in (r["q"] or [None] * len(CSV_QUANTILES))]
            + [utc(r["last"])]
        )
        return [",".join(header), ",".join(data)]

    def _field_csv(self, df: DataFrame, fname: str) -> list[str]:
        # distribution of FREQUENCIES: one aggregation over the value
        # counts (n distinct values rows — already reduced), never the
        # records; both stages keep map-side combine
        freqs = df.groupBy(F.col(fname).cast("string").alias("v")).agg(
            F.count("*").alias("freq")
        )
        r = freqs.agg(
            F.count("*").alias("n"),
            F.min("freq").alias("lo"),
            F.max("freq").alias("hi"),
            self._csv_quants(F.col("freq")).alias("q"),
        ).collect()[0]
        header = [f"num samples ({fname})", "smallest"] + _QUANT_HEADERS + ["biggest"]
        data = (
            [self._fmt(r["n"]), self._fmt(r["lo"])]
            + [self._fmt(x) for x in (r["q"] or [None] * len(CSV_QUANTILES))]
            + [self._fmt(r["hi"])]
        )
        return [",".join(header), ",".join(data)]

    def write(self, df: DataFrame) -> dict:
        # one report = 2 + len(fields) aggregation jobs over the same
        # rows; persist so the upstream lineage (source + filter chain)
        # materializes once, not once per section. Only release a cache
        # THIS method created: persist() on an already-cached frame
        # returns the same entry, and unpersisting it here would evict
        # the caller's cache out from under their later actions.
        own_cache = not df.is_cached
        if own_cache:
            df = df.persist()
        try:
            report = {"sizes": self.record_sizes(df).collect()[0].asDict()}
            for f, freq in self.field_frequencies(df, top_k=100).items():
                report[f"freq:{f}"] = [r.asDict() for r in freq.collect()]
            if self.timestamp_field:
                report["times"] = self.timestamp_distribution(df).collect()[0].asDict()
            if self.csv_path:
                self._emit_csv(df, self.csv_path)
        finally:
            if own_cache:
                df.unpersist()
        return report
