"""FileWriter — serialized records to compressed CSV files
(/root/reference/output/filewriter.go:26-99).

Reference capabilities -> Spark disposition:

- time-templated paths ``{{.Year}}/{{.Month}}/{{.Day}}/...``
  (filewriter.go:34-43) -> ``partitionBy`` on columns derived from a
  timestamp: a ``year=YYYY/month=MM/day=DD`` directory tree. With
  ``timestamp_field`` set the layout is EVENT-time (deterministic, the
  right call at 100 TB: a backfill lands in the same directories as the
  original run); without it, the batch's wall-clock at write start — the
  reference's evaluate-at-file-creation semantics (filewriter.go:270-372)
- ``{{.Field0}}`` worker fan-out -> ``partitionBy(field)`` directory layout
- ``{{.Index}}`` / ``{{.UUID}}`` -> Spark's own task-file naming
  (``part-<task>-<uuid>``) already guarantees writer-unique names, which
  is all those placeholders exist for (filewriter.go:45-56 rule 1)
- ``{{.Rotation}}`` + RotateSize -> ``maxRecordsPerFile`` (rule 2: a
  rotation must never produce the same path twice — Spark bumps the file
  index within the task for the same reason)
- RotateInterval -> in batch, the finest time partition present (a
  ``minute=`` dir is a 1-minute rotation); in daemon mode, the streaming
  trigger interval (baker_spark.streaming)
- gzip/zstd -> ``option("compression", ...)``
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field
from datetime import datetime, timezone

from pyspark.sql import DataFrame, functions as F

from baker_spark.functions import sql_ident, sql_str

_PLACEHOLDER_RX = re.compile(r"\{\{\s*\.(\w+)\s*\}\}")

#: Hadoop ZlibCompressor.CompressionLevel enum name per deflate level —
#: the value the per-job ``zlib.compress.level`` option carries into the
#: write job's Hadoop conf (file-source options overlay it via
#: SessionState.newHadoopConfWithOptions, same ride as the zstd level).
#: BuiltInGzipCompressor honors it since Hadoop 3.3, native zlib or not;
#: the names TWO..EIGHT exist since Hadoop 3.3.2, and Spark 4 ships 3.4.
_GZIP_LEVELS = {
    -1: "DEFAULT_COMPRESSION", 0: "NO_COMPRESSION", 1: "BEST_SPEED",
    2: "TWO", 3: "THREE", 4: "FOUR", 5: "FIVE", 6: "SIX",
    7: "SEVEN", 8: "EIGHT", 9: "BEST_COMPRESSION",
}

_SIZE_RX = re.compile(r"^\s*([0-9]*\.?[0-9]+)\s*([a-zA-Z]*)\s*$")
#: go-humanize unit table (size_bytes.go:30-36 delegates to
#: humanize.ParseBytes): SI decimal, IEC binary, bare/single-letter forms
_SIZE_UNITS = {
    "": 1, "b": 1,
    "kb": 10**3, "mb": 10**6, "gb": 10**9, "tb": 10**12, "pb": 10**15,
    "kib": 2**10, "mib": 2**20, "gib": 2**30, "tib": 2**40, "pib": 2**50,
    "k": 10**3, "m": 10**6, "g": 10**9, "t": 10**12, "p": 10**15,
    "ki": 2**10, "mi": 2**20, "gi": 2**30, "ti": 2**40, "pi": 2**50,
}


def parse_size_bytes(v) -> int:
    """The reference's SizeBytes TOML decoding (size_bytes.go:10-43):
    plain non-negative numbers pass through; strings parse humanized
    sizes (``12000``, ``"12KB"``, ``"1MiB"``, ``"128MB"``); anything
    else is a config-time error."""
    if isinstance(v, bool):
        raise ValueError(f"invalid size in bytes ({v!r})")
    if isinstance(v, (int, float)):
        if v < 0:
            raise ValueError(f"invalid size in bytes ({v}): value must be >= 0")
        return int(v)
    if isinstance(v, str):
        if v == "":
            return 0
        m = _SIZE_RX.match(v)
        unit = _SIZE_UNITS.get(m.group(2).lower()) if m else None
        if unit is None:
            raise ValueError(f"invalid size in bytes ({v!r})")
        return int(float(m.group(1)) * unit)
    raise ValueError(f"unexpected type ({type(v).__name__}): unexpected value type")

#: canonical order + the Spark date_format pattern reproducing the
#: reference's zero-padded widths (filewriter.go:34-40: YYYY MM DD HH MM SS)
_TIME_PLACEHOLDERS = [
    ("Year", "yyyy"),
    ("Month", "MM"),
    ("Day", "dd"),
    ("Hour", "HH"),
    ("Minute", "mm"),
    ("Second", "ss"),
]
_TIME_NAMES = [n for n, _ in _TIME_PLACEHOLDERS]


_DUR_RX = re.compile(r"([0-9]*\.?[0-9]+)(ns|us|µs|ms|s|m|h)")
_DUR_UNITS = {"ns": 1e-9, "us": 1e-6, "µs": 1e-6, "ms": 1e-3, "s": 1.0, "m": 60.0, "h": 3600.0}


def parse_go_duration(v) -> float:
    """Go time.Duration strings (``"60s"``, ``"1m30s"``, ``"-1"``) to
    seconds — the RotateInterval TOML syntax (filewriter.go:95). Numbers
    pass through as seconds."""
    if isinstance(v, (int, float)) and not isinstance(v, bool):
        return float(v)
    s = str(v).strip()
    if s in ("-1", "0"):
        return float(s)
    sign = -1.0 if s.startswith("-") else 1.0
    body = s.lstrip("+-")
    matches = _DUR_RX.findall(body)
    if not matches or "".join(n + u for n, u in matches) != body:
        raise ValueError(f"invalid duration {v!r}")
    return sign * sum(float(n) * _DUR_UNITS[u] for n, u in matches)


def serialize_line(columns: list[str], separator: str) -> F.Column:
    """The record-serialization rule (ToText, logline.go:152-220), in
    ONE place: coalesce('') per field keeps empty==null fidelity AND the
    separator count (bare concat_ws would silently skip a NULL field,
    eating its separator). Used by the write path, the RotateSize
    sampler, and the bench topology — they must emit identical bytes."""
    # one expr string, not a per-column Column chain: identical
    # expression, ~5 py4j round trips instead of ~5 per column (the
    # bench chain serializes 16 columns per timed run — round 13).
    cols = ", ".join(f"coalesce(cast({sql_ident(c)} as string), '')" for c in columns)
    return F.expr(f"concat_ws({sql_str(separator)}, {cols})")


def parse_path_template(template: str) -> tuple[str, list[str], bool]:
    """Split a reference PathString into ``(base_dir, time_partitions,
    wants_field0)``. ``base_dir`` is the literal prefix before the first
    placeholder; time placeholders map to hierarchical partitions in
    canonical Year>...>Second order regardless of where they appear in
    the template (a ``{{.Year}}{{.Month}}{{.Day}}-...`` FILENAME still
    means day-resolution layout). Unknown placeholders are rejected so a
    typo'd template fails at compile time."""
    names = set(_PLACEHOLDER_RX.findall(template))
    unknown = names - set(_TIME_NAMES) - {"Field0", "Index", "UUID", "Rotation"}
    if unknown:
        raise ValueError(f"unknown FileWriter path placeholders: {sorted(unknown)}")
    base = template.split("{{", 1)[0]
    base = base.rstrip("/") or "."
    time_parts = [n for n in _TIME_NAMES if n in names]
    return base, time_parts, "Field0" in names


def _codec_for(path: str) -> str:
    """The reference's extension rule (filewriter.go:257): zstd for a
    .zst/.zstd path, gzip otherwise."""
    return "zstd" if path.rstrip("/").endswith((".zst", ".zstd")) else "gzip"


@dataclass
class FileWriter:
    """Serialized records to compressed CSV files: time-templated
    partition dirs, Field0 fan-out, size rotation (filewriter.go:26-99;
    mapping table in the module docstring)."""

    path: str
    #: None = the reference's extension rule (filewriter.go:257): zstd
    #: for .zst/.zstd paths, gzip otherwise. "zstd" rides the compiled
    #: bakerspark.ZstdJniCodec jar (tools/build_zstd_codec.sh) because
    #: Spark's builtin text/CSV codec list has no zstd; sessions built by
    #: get_spark carry it automatically.
    compression: str | None = None
    #: ZstdCompressionLevel (filewriter.go:98,116-117: default 3,
    #: 1=BestSpeed .. 19=BestCompression)
    zstd_level: int = 3
    #: ZstdWindowLog (filewriter.go:99,388): long-distance-matching
    #: window log; 0 = disabled (the reference default). The published
    #: bench config runs level 3 + windowLog 27 (README.md:114). The
    #: codec's read path accepts windowLog up to 31 regardless, so files
    #: written long-range read back without special handling.
    zstd_window_log: int = 0
    #: gzip deflate level. The reference hardcodes BestSpeed
    #: (filewriter.go:392-394: gzip.NewWriterLevel(countw,
    #: gzip.BestSpeed)), so 1 is the fidelity default — and measurably
    #: cheaper CPU than java's level-6 default at 100 TB write volume.
    gzip_level: int = 1
    separator: str = ","
    partition_by: str | None = None  # ≈ {{.Field0}} fan-out
    max_records_per_file: int | None = None  # ≈ RotateSize / {{.Rotation}}
    #: RotateSize in bytes (humanized TOML values via parse_size_bytes).
    #: The reference rotates when the COMPRESSED file reaches this size
    #: (the counting writer sits under the gzip/zstd writer,
    #: filewriter.go:374-395); Spark's only per-file knob is record
    #: count, so write() estimates compressed bytes/record from a
    #: 1000-row sample and derives maxRecordsPerFile. Explicit
    #: max_records_per_file wins over the estimate.
    rotate_size_bytes: int | None = None
    #: DiscardEmptyFiles (filewriter.go:97,273): drop zero-record part
    #: files after the write — Spark's committer still emits one empty
    #: part for an empty result (and occasionally for empty partitions)
    discard_empty_files: bool = False
    mode: str = "overwrite"
    #: subset of Year/Month/Day/Hour/Minute/Second -> year=/month=/... dirs
    time_partitions: list[str] = field(default_factory=list)
    #: record field driving the time layout (event time); None = batch clock
    timestamp_field: str | None = None
    #: injectable clock for the no-field mode (tests freeze it)
    batch_time: datetime | None = None
    #: RotateInterval in seconds (filewriter.go:95): a daemon topology's
    #: micro-batch trigger; None = as fast as possible
    rotate_interval: float | None = None

    @classmethod
    def from_config(
        cls,
        separator: str,
        output_fields: list[str] | None,
        #: output location; may template {{.Year}}..{{.Second}},
        #: {{.Field0}}, {{.Index}}, {{.UUID}} and {{.Rotation}}
        #: (filewriter.go:34-43). A .zst/.zstd name writes zstd, else gzip
        path_string: str = "_out",
        #: humanized size ("128MB") at which a compressed file rotates;
        #: 0 = never
        rotate_size: int | str = 0,
        #: Go duration ("60s"): a daemon topology's micro-batch trigger,
        #: "-1" = as fast as possible. A batch run rotates by the finest
        #: time placeholder instead
        rotate_interval: str = "-1",
        #: drop zero-record part files after each write
        discard_empty_files: bool = False,
        #: 1 = fastest .. 19 = smallest (filewriter.go:98,116-117)
        zstd_compression_level: int = 3,
        #: long-distance-matching window log, 10..31; 0 = off
        zstd_window_log: int = 0,
        #: record field driving a time template's layout (event time);
        #: unset = the batch's wall clock
        timestamp_field: str | None = None,
    ) -> "FileWriter":
        secs = parse_go_duration(rotate_interval)
        kw = dict(
            # from the FULL PathString: a time template's FileWriter only
            # sees the pre-placeholder base directory ("/out" from
            # "/out/{{.Year}}/log.zst"), which never carries the extension
            compression=_codec_for(path_string),
            separator=separator,
            rotate_size_bytes=parse_size_bytes(rotate_size) or None,
            discard_empty_files=bool(discard_empty_files),
            zstd_level=int(zstd_compression_level) or 3,
            zstd_window_log=int(zstd_window_log),
            rotate_interval=secs if secs > 0 else None,
        )
        if "{{" not in path_string:
            # templateless path: its directory is the output dir; task
            # files replace the {{.Index}}/{{.UUID}} parts of the
            # reference template
            ext = os.path.splitext(path_string)[1]
            return cls(path=path_string + ".d" if ext else path_string, **kw)
        # {{.Year}}/{{.Month}}/{{.Day}} etc. become a partitioned
        # year=/month=/day= tree under the literal prefix; {{.Field0}}
        # becomes partitionBy on the first output field
        base, time_parts, wants_field0 = parse_path_template(path_string)
        if wants_field0 and not output_fields:
            raise ValueError(
                "FileWriter PathString uses {{.Field0}} but [output] has no fields"
            )
        return cls(
            path=base,
            partition_by=output_fields[0] if wants_field0 else None,
            time_partitions=time_parts,
            timestamp_field=timestamp_field,
            **kw,
        )

    def __post_init__(self):
        if self.gzip_level not in _GZIP_LEVELS:
            raise ValueError(
                f"gzip_level {self.gzip_level} not in -1..9"
            )
        # fail at construction like the gzip path does — unvalidated,
        # a bad zstd config surfaces mid-write inside the job (or in
        # the rotate-estimate's pyarrow codec), long after the typo
        if not 1 <= self.zstd_level <= 22:
            raise ValueError(f"zstd_level {self.zstd_level} not in 1..22")
        if self.zstd_window_log and not 10 <= self.zstd_window_log <= 31:
            raise ValueError(
                f"zstd_window_log {self.zstd_window_log} not in 10..31 (0 = default)"
            )
        if self.compression is None:
            base = self.path.rstrip("/")
            # .d output dirs keep the configured file extension visible
            # ("out.csv.zst.d" — see from_config's templateless branch)
            self.compression = _codec_for(base[:-2] if base.endswith(".d") else base)

    def _codec_option(self, spark) -> str:
        """The value for ``option("compression", ...)``: builtin names
        pass through; "zstd" resolves to the compiled codec class or
        fails loudly if this session lacks the jar — silently writing
        gzip into files named .zst would corrupt a downstream reader's
        expectations. The level is NOT set here: it rides the write as a
        per-job option (see ``write``), so two FileWriters with
        different zstd_level in one session cannot race on the
        session-global Hadoop configuration."""
        if self.compression != "zstd":
            return self.compression
        from baker_spark.session import ZSTD_CODEC_CLASS, zstd_codec_available

        if not zstd_codec_available(spark):
            raise RuntimeError(
                "zstd output needs the bakerspark codec jar on the session "
                "classpath — build it with tools/build_zstd_codec.sh and "
                "create the session via baker_spark.get_spark"
            )
        return ZSTD_CODEC_CLASS

    def _event_ts(self, df: DataFrame):
        """Timestamp column for the time layout. String fields accept
        both datetime text and epoch seconds (the output of the
        reference's Timestamp filter) — per-row coalesce, all JVM-side.

        Both modes route through from_unixtime so they share ONE time
        base (the session timezone). A naive wall-clock literal for the
        batch mode would render as-is while the event path renders
        epoch seconds in session tz — on a non-UTC session the same
        instant would land batch-clock data and its event-time backfill
        in DIFFERENT day= directories, breaking the module's
        same-directories promise. ``batch_time`` (the test clock) is
        interpreted as UTC."""
        if self.timestamp_field is None:
            now = self.batch_time or datetime.now(timezone.utc)
            if now.tzinfo is None:
                now = now.replace(tzinfo=timezone.utc)
            return F.to_timestamp(F.from_unixtime(F.lit(int(now.timestamp()))))
        c = F.col(self.timestamp_field)
        return F.coalesce(
            F.to_timestamp(c),
            F.to_timestamp(F.from_unixtime(c.cast("long"))),
        )

    def _rotate_records(self, df: DataFrame, cols: list[str]) -> int:
        """maxRecordsPerFile approximating RotateSize: serialize a
        bounded sample of exactly the record columns the writer will
        emit, compress it with the configured codec, and scale. One tiny
        extra job per write — the cost does not grow with the input."""
        rows = (
            df.select(serialize_line(cols, self.separator).alias("_line"))
            .limit(1000)
            .collect()
        )
        if not rows:
            return 1
        blob = ("\n".join(r._line for r in rows) + "\n").encode()
        if self.compression == "gzip":
            import gzip as _gzip

            # the estimate must model THIS writer's files — same level
            # the write job will carry in its per-job Hadoop conf
            # (-1 = zlib DEFAULT_COMPRESSION, which deflates like 6;
            # python's gzip rejects -1, so map it explicitly)
            lvl = 6 if self.gzip_level == -1 else self.gzip_level
            nbytes = len(_gzip.compress(blob, compresslevel=lvl))
        elif self.compression == "zstd":
            import pyarrow as _pa

            # same level the ZstdJniCodec will use, so the estimate
            # models the actual files
            nbytes = len(
                bytes(_pa.Codec("zstd", compression_level=self.zstd_level).compress(blob))
            )
        else:
            nbytes = len(blob)
        per_record = max(1.0, nbytes / len(rows))
        return max(1, int(self.rotate_size_bytes / per_record))

    def write(self, df: DataFrame) -> str:
        max_records = self.max_records_per_file
        partition_cols: list[str] = []
        if self.time_partitions:
            bad = [p for p in self.time_partitions if p not in _TIME_NAMES]
            if bad:
                raise ValueError(f"unknown time partitions: {bad}; pick from {_TIME_NAMES}")
            # Spark column resolution is case-INsensitive by default, so
            # the clash check must be too: a record field `Hour` would be
            # silently replaced by withColumn("hour", ...)
            lower_cols = {c.lower() for c in df.columns}
            clash = [n.lower() for n in self.time_partitions if n.lower() in lower_cols]
            if clash:
                # withColumn would silently REPLACE the record's own
                # field and the partition split would then drop its
                # value from every written line
                raise ValueError(
                    f"record fields {clash} collide with time-partition "
                    "columns; rename the fields or drop the time template"
                )
            ts = self._event_ts(df)
            fmt = dict(_TIME_PLACEHOLDERS)
            for name in _TIME_NAMES:  # canonical hierarchy, template order ignored
                if name in self.time_partitions:
                    df = df.withColumn(name.lower(), F.date_format(ts, fmt[name]))
                    partition_cols.append(name.lower())
        if self.partition_by:
            partition_cols.append(self.partition_by)

        # serialize-then-write, the reference's ToText path
        # (logline.go:152-220): one concat_ws line per record, written
        # through the text writer. Byte-identical to the CSV writer with
        # quoting disabled (this sink's only mode — baker has no CSV
        # quoting), and measurably faster: the CSV writer's per-field
        # escape machinery does nothing useful here. coalesce('') keeps
        # empty==null fidelity AND the separator count (concat_ws would
        # silently skip a NULL field, eating its separator).
        # exclude only the SYNTHETIC time-partition columns from the
        # serialized line. partition_by ({{.Field0}}) is a record field:
        # the reference writes the record in FULL and uses Fields[0] for
        # the path only (filewriter.go:192), so its value must stay in
        # every line — a migrating consumer reads the same columns at
        # the same positions, just grouped into per-value directories.
        synthetic = set(partition_cols)
        if self.partition_by:
            synthetic.discard(self.partition_by)
        record_cols = [c for c in df.columns if c not in synthetic]
        if self.rotate_size_bytes and not max_records:
            # sample AFTER the partition split so the estimate covers
            # exactly the bytes each rotated file will hold
            max_records = self._rotate_records(df, record_cols)
        line = serialize_line(record_cols, self.separator)
        # the text source doesn't care what the single data column is
        # called, so dodge a record field named 'value' used as
        # partition_by (a duplicate name would be an ambiguous-column
        # AnalysisException at partitionBy time)
        line_col = "value"
        while line_col in partition_cols:
            line_col = "_" + line_col
        out = (
            df.select(*partition_cols, line.alias(line_col))
            if partition_cols
            else df.select(line.alias(line_col))
        )
        writer = out.write.mode(self.mode).option(
            "compression", self._codec_option(df.sparkSession)
        )
        if self.mode == "overwrite" and partition_cols:
            # dynamic, not static: a static overwrite DELETES THE WHOLE
            # SINK ROOT first, so Tuesday's day=14 backfill would wipe
            # Monday's day=15 tree before writing — the opposite of the
            # documented 'backfill lands in the same directories'
            # semantics. Dynamic replaces only the partitions this
            # batch actually carries.
            writer = writer.option("partitionOverwriteMode", "dynamic")
        if self.compression == "zstd":
            # per-JOB level: file-source options overlay the job's Hadoop
            # conf (SessionState.newHadoopConfWithOptions), so concurrent
            # writers with different levels don't clobber a session-global
            # key — the codec reads LEVEL_KEY from its job conf
            writer = writer.option("bakerspark.zstd.level", str(self.zstd_level))
            if self.zstd_window_log:
                writer = writer.option(
                    "bakerspark.zstd.windowlog", str(self.zstd_window_log)
                )
        elif self.compression == "gzip":
            # same per-job overlay for the deflate level; default 1 is
            # the reference's hardcoded BestSpeed (filewriter.go:392-394)
            writer = writer.option(
                "zlib.compress.level", _GZIP_LEVELS[self.gzip_level]
            )
        if max_records:
            writer = writer.option("maxRecordsPerFile", max_records)
        if partition_cols:
            writer = writer.partitionBy(*partition_cols)
        writer.text(self.path)
        jvm, fs, HPath = self._fs(df.sparkSession)
        new_parts = self._rename_txt_parts(fs, HPath, len(partition_cols))
        if self.discard_empty_files:
            self._discard_empty(jvm, fs, new_parts)
        return self.path

    def _fs(self, spark):
        """Hadoop FileSystem for this sink's path, with the JVM view and
        the ``Path`` class — the writer targets whatever filesystem the
        URI names (local, s3a://, hdfs://), so the post-write
        rename/discard steps must speak the same API, not the driver's
        local os module (which silently no-ops on a remote URI).

        Resolved once per write and handed to both steps: each py4j
        class lookup is several reflection round trips. Not cached
        across writes, where a stopped session would leave a dead
        handle."""
        jvm = spark._jvm
        HPath = jvm.org.apache.hadoop.fs.Path
        fs = HPath(self.path).getFileSystem(spark._jsc.hadoopConfiguration())
        return jvm, fs, HPath

    def _rename_txt_parts(self, fs, HPath, depth: int):
        """Rename this write's ``part-*.txt[.gz]`` files to the sink's
        ``.csv[.gz]`` contract (the reference's PathString extension).

        Parts live at exactly ``depth`` partition-directory levels below
        the sink root, so the listing is one Hadoop glob at that fixed
        depth — not a recursive walk — and only files from THIS write
        still match ``*.txt*`` (earlier batches were already renamed).
        In append mode the glob still enumerates every partition dir
        ever written (O(dirs), not O(files)); Hadoop's ChecksumFileSystem
        rename moves local ``.crc`` siblings along with the data file."""
        pattern = self.path.rstrip("/") + "/*" * depth + "/part-*.txt*"
        statuses = fs.globStatus(HPath(pattern))
        renamed = []
        for st in statuses or []:
            src = st.getPath()
            dst = HPath(src.getParent(), src.getName().replace(".txt", ".csv"))
            if fs.rename(src, dst):
                renamed.append(dst)
        return renamed

    def _discard_empty(self, jvm, fs, jpaths) -> None:
        """Remove zero-record parts (DiscardEmptyFiles,
        filewriter.go:97,273). A gzip/zstd part is never 0 bytes (frame
        header + trailer), so emptiness is one decompressed read of the
        first byte — streamed through the same Hadoop FileSystem the
        write used, so this works on remote URIs too."""
        for p in jpaths:
            try:
                if self.compression == "gzip":
                    gz = jvm.java.util.zip.GZIPInputStream(fs.open(p))
                    try:
                        empty = gz.read() == -1
                    finally:
                        gz.close()
                elif self.compression == "zstd":
                    # zstd-jni ships with Spark, so the decompressing
                    # probe runs JVM-side like the gzip branch
                    z = jvm.com.github.luben.zstd.ZstdInputStream(fs.open(p))
                    try:
                        empty = z.read() == -1
                    finally:
                        z.close()
                else:
                    empty = fs.getFileStatus(p).getLen() == 0
                if empty:
                    fs.delete(p, False)
            except Exception:
                continue
