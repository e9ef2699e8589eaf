"""Pure column-expression row operators (SURVEY.md §2.2).

Each mirrors a reference filter's semantics (citations inline) but is
expressed as Catalyst ``Column`` expressions so predicate pushdown,
filter collapsing and whole-stage codegen apply. All field writes emit
StringType (the reference's records are untyped strings, empty == null,
/root/reference/record.go:35-39).
"""

from __future__ import annotations

from datetime import datetime, timezone

import pandas as pd
from pyspark.sql import Column, DataFrame, functions as F

from baker_spark.functions import sql_ident, sql_str
from baker_spark.operators.base import Operator, is_empty, register


def _s(col: Column) -> Column:
    return col.cast("string")


def _sq(name: str) -> str:
    """cast(`name` as string) — the expr-string twin of ``_s(F.col(name))``."""
    return f"cast({sql_ident(name)} as string)"


@register
class ClearFields(Operator):
    """Set listed fields to the empty string
    (/root/reference/filter/clear_fields.go:10-56)."""

    name = "ClearFields"

    def __init__(self, fields: list[str]):
        self.fields = list(fields)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.withColumns({f: F.lit("") for f in self.fields})


@register
class Concatenate(Operator):
    """Concatenate source fields into target with optional 1-char
    separator (/root/reference/filter/concatenate.go:11-82). Empty/null
    fields contribute an empty slot (baker joins raw bytes)."""

    name = "Concatenate"

    def __init__(self, fields: list[str], target: str, separator: str = ""):
        if len(separator) > 1:
            raise ValueError("separator must be empty or a single char")
        self.fields, self.target, self.separator = list(fields), target, separator

    def apply(self, df: DataFrame) -> DataFrame:
        # expr string, not per-field Column chains (round 13): identical
        # expression, a handful of py4j calls — this op sits on the
        # benched chain's per-run build path
        if not self.fields:
            return df.withColumn(self.target, F.expr("''"))
        cols = ", ".join(f"coalesce({_sq(f)}, '')" for f in self.fields)
        if self.separator:
            out = f"concat_ws({sql_str(self.separator)}, {cols})"
        else:
            out = f"concat({cols})"
        return df.withColumn(self.target, F.expr(out))


@register
class ExpandList(Operator):
    """Split source on a 1-char separator; map list index -> dst field
    (/root/reference/filter/expand_list.go:112-132). Out-of-range indexes
    and empty sources leave dst untouched."""

    name = "ExpandList"

    def __init__(self, source: str, fields: dict[str | int, str], separator: str = ";"):
        self.source = source
        self.fields = {int(i): dst for i, dst in fields.items()}
        self.separator = separator

    def apply(self, df: DataFrame) -> DataFrame:
        import re

        arr = F.split(F.col(self.source), re.escape(self.separator), -1)
        updates = {}
        for idx, dst in self.fields.items():
            item = F.when(~is_empty(self.source), arr.getItem(idx))
            prev = F.col(dst).cast("string") if dst in df.columns else F.lit("")
            updates[dst] = F.coalesce(item, prev)
        return df.withColumns(updates)


@register
class ExpandJSON(Operator):
    """Extract JMESPath values from a JSON field into dst fields
    (/root/reference/filter/expand_json.go:103-146). Numbers/strings are
    written verbatim, booleans map to ``true_false_values``; missing
    paths / bad JSON leave dst untouched.

    Simple dotted paths compile to native ``get_json_object``; anything
    else falls back to a vectorized jmespath pandas UDF.
    """

    name = "ExpandJSON"

    def __init__(
        self,
        source: str,
        fields: dict[str, str],
        true_false_values: tuple[str, str] = ("true", "false"),
    ):
        self.source = source
        self.fields = dict(fields)  # JMESPath -> dst field
        self.tf = tuple(true_false_values)

    @staticmethod
    def _is_simple(path: str) -> bool:
        return all(p.replace("_", "a").isalnum() for p in path.split("."))

    def _native(self, path: str) -> Column:
        # only taken with the DEFAULT true/false mapping: get_json_object
        # returns the text 'true' for BOTH the boolean true and the
        # string "true", so a custom mapping applied here would also
        # rewrite string values — the reference maps booleans only
        # (expand_json.go case bool). Custom mappings route through the
        # jmespath UDF, whose json.loads sees the real type.
        return F.get_json_object(F.col(self.source), "$." + path)

    def _searcher(self, path: str):
        try:
            import jmespath

            return jmespath.compile(path).search
        except ImportError:
            if not self._is_simple(path):
                raise
            # jmespath is an optional dependency; a simple dotted path
            # (the only kind routed here without it — custom
            # true_false_values need the typed UDF) walks dicts directly
            parts = path.split(".")

            def searcher(data):
                for p in parts:
                    if not isinstance(data, dict):
                        return None
                    data = data.get(p)
                return data

            return searcher

    def _jmespath_struct(self, paths: list[str]) -> Column:
        """ONE pandas UDF for ALL udf-routed paths: the JSON source is
        json.loads'ed once per row and every path searched on the parsed
        document — the reference parses once per record too
        (expand_json.go:103-146). One UDF per path would re-parse the
        document N times per row in N separate Arrow invocations."""
        searchers = [self._searcher(p) for p in paths]
        tf = self.tf
        names = [f"c{i}" for i in range(len(paths))]
        schema = "struct<" + ",".join(f"{n}:string" for n in names) + ">"

        @F.pandas_udf(schema)
        def extract(s: pd.Series) -> pd.DataFrame:
            import json

            rows = []
            for v in s:
                if not v:
                    rows.append([None] * len(searchers))
                    continue
                try:
                    data = json.loads(v)
                except Exception:
                    rows.append([None] * len(searchers))
                    continue
                out = []
                for search in searchers:
                    try:
                        r = search(data)
                    except Exception:
                        r = None
                    if r is None:
                        out.append(None)
                    elif isinstance(r, bool):
                        out.append(tf[0] if r else tf[1])
                    elif isinstance(r, (int, float, str)):
                        out.append(str(r))
                    else:
                        out.append(json.dumps(r))
                rows.append(out)
            return pd.DataFrame(rows, columns=names)

        return extract(F.col(self.source))

    def apply(self, df: DataFrame) -> DataFrame:
        updates = {}
        udf_paths: list[tuple[str, str]] = []
        for path, dst in self.fields.items():
            fast = self._is_simple(path) and self.tf == ("true", "false")
            if fast:
                prev = F.col(dst).cast("string") if dst in df.columns else F.lit("")
                updates[dst] = F.coalesce(self._native(path), prev)
            else:
                udf_paths.append((path, dst))
        if not udf_paths:
            return df.withColumns(updates)
        # materialize the struct as ONE column first: field extraction
        # then prunes from a single UDF evaluation instead of re-running
        # the UDF per destination
        out = df.withColumn("_bk_ej", self._jmespath_struct([p for p, _ in udf_paths]))
        for i, (_path, dst) in enumerate(udf_paths):
            prev = F.col(dst).cast("string") if dst in df.columns else F.lit("")
            updates[dst] = F.coalesce(F.col("_bk_ej").getField(f"c{i}"), prev)
        return out.withColumns(updates).drop("_bk_ej")


#: Go time layout names -> Java datetime patterns (format_time.go:152-188).
GO_LAYOUTS = {
    "ANSIC": "EEE MMM d HH:mm:ss yyyy",
    "UnixDate": "EEE MMM d HH:mm:ss zzz yyyy",
    "RubyDate": "EEE MMM dd HH:mm:ss xx yyyy",
    "RFC822": "dd MMM yy HH:mm zzz",
    "RFC822Z": "dd MMM yy HH:mm xx",
    "RFC850": "EEEE, dd-MMM-yy HH:mm:ss zzz",
    "RFC1123": "EEE, dd MMM yyyy HH:mm:ss zzz",
    "RFC1123Z": "EEE, dd MMM yyyy HH:mm:ss xx",
    "RFC3339": "yyyy-MM-dd'T'HH:mm:ssXXX",
    # parse side: [.SSSSSSSSS] accepts 0-9 fraction digits, exactly
    # Go's trailing-zero-trimmed .999999999 (a whole second formats with
    # NO fraction at all); format side is special-cased to trim like Go
    "RFC3339Nano": "yyyy-MM-dd'T'HH:mm:ss[.SSSSSSSSS]XXX",
    "Kitchen": "h:mma",
    "Stamp": "MMM d HH:mm:ss",
    "StampMilli": "MMM d HH:mm:ss.SSS",
    "StampMicro": "MMM d HH:mm:ss.SSSSSS",
    "DateTime": "yyyy-MM-dd HH:mm:ss",
    "DateOnly": "yyyy-MM-dd",
    "TimeOnly": "HH:mm:ss",
}
_EPOCH_FORMATS = {"unix", "unixms", "unixns"}
#: Go layouts using `_2` (space-padded day): Go PARSES both "Jan  2" and
#: "Jan 2", and FORMATS day < 10 with a pad space ("Jan  2"). Java's `d`
#: does neither — strict parsing chokes on the double space and
#: formatting emits no pad — so these layouts normalize space runs
#: before parsing and space-pad the day explicitly when formatting.
_GO_SPACE_PAD_DAY = {"ANSIC", "UnixDate", "Stamp", "StampMilli", "StampMicro"}


_GO_TOKENS = [
    # longest-match-first scan; Go reference layout components
    ("2006", "yyyy"), ("January", "MMMM"), ("Monday", "EEEE"),
    (".000000000", ".SSSSSSSSS"), (".000000", ".SSSSSS"), (".000", ".SSS"),
    (".999999999", "[.SSSSSSSSS]"), (".999999", "[.SSSSSS]"), (".999", "[.SSS]"),
    ("Z07:00", "XXX"), ("Z0700", "XX"),
    ("-07:00", "xxx"), ("-0700", "xx"), ("-07", "x"),
    ("Jan", "MMM"), ("Mon", "EEE"), ("MST", "zzz"),
    ("15", "HH"), ("01", "MM"), ("02", "dd"), ("03", "hh"),
    ("04", "mm"), ("05", "ss"), ("06", "yy"),
    ("_2", "d"), ("PM", "a"), ("pm", "a"),
    ("1", "M"), ("2", "d"), ("3", "h"), ("4", "m"), ("5", "s"),
]


def _go_layout_to_java(layout: str) -> str:
    """Translate an arbitrary Go reference layout (format_time.go's
    default case accepts ANY layout string) into a Java/Spark datetime
    pattern. Without this, a reference-valid custom layout like
    SrcFormat="2006-01-02" reached to_timestamp verbatim and threw
    DATETIME_PATTERN_RECOGNITION at action time — digits are illegal
    Java pattern chars — failing the whole job instead of converting.
    Unrecognized characters become quoted literals (letters MUST be
    quoted in Java patterns)."""
    out: list[str] = []
    lit: list[str] = []

    def flush() -> None:
        if not lit:
            return
        run = "".join(lit)
        if any(ch.isalpha() for ch in run) or "'" in run:
            out.append("'" + run.replace("'", "''") + "'")
        else:
            out.append(run)
        lit.clear()

    i = 0
    while i < len(layout):
        for tok, java in _GO_TOKENS:
            if layout.startswith(tok, i):
                flush()
                out.append(java)
                i += len(tok)
                break
        else:
            lit.append(layout[i])
            i += 1
    flush()
    return "".join(out)


@register
class FormatTime(Operator):
    """Parse src per named layout, format into dst; unparseable input
    clears dst (/root/reference/filter/format_time.go:152-210)."""

    name = "FormatTime"

    def __init__(
        self,
        src_field: str,
        dst_field: str,
        src_format: str = "UnixDate",
        dst_format: str = "unixms",
    ):
        self.src, self.dst = src_field, dst_field
        self.src_format, self.dst_format = src_format, dst_format

    def _parse(self, col: Column) -> Column:
        fmt = self.src_format
        if fmt in _EPOCH_FORMATS:
            # ParseInt strictness (format_time.go:156): the reference
            # REJECTS "1700000000.9" / " 17 " and clears dst; a bare
            # non-ANSI cast would happily truncate them to an epoch.
            # Same rlike guard TimestampRange uses for the same reason.
            strict = F.when(col.rlike("^-?[0-9]+$"), col).otherwise(
                F.lit(None).cast("string")
            )
            n = strict.cast("long")
            if fmt == "unix":
                return F.timestamp_seconds(n)
            if fmt == "unixms":
                return F.timestamp_millis(n)
            # exact BIGINT-scale division via DECIMAL, not `/`: ns
            # epochs (~2^61) exceed double's 2^53 exact range, and a
            # double roundtrip can shift values near a boundary. Built
            # from `n` (the guarded column), not an F.expr respelling
            # of the field name — that ignored the guard and broke on
            # names containing backticks.
            micros = (n.cast("decimal(38,0)") / F.lit(1000)).cast("long")
            return F.timestamp_micros(micros)
        pattern = GO_LAYOUTS.get(fmt) or _go_layout_to_java(fmt)
        # Spark 3+ forbids day-of-week tokens in PARSE patterns
        # (E is format-only; to_timestamp('EEE ...') throws
        # DATETIME_PATTERN_RECOGNITION before seeing any data).
        # The weekday is redundant for parsing, so strip it from the
        # pattern AND require a REAL weekday name in the input — a
        # row without one becomes NULL and clears dst, same as Go's
        # time.Parse (which validates the name but not its
        # consistency with the date). Applies to named layouts AND
        # translated custom ones (both can lead with a weekday).
        dow = "(?:Mon|Tue|Wed|Thu|Fri|Sat|Sun)"
        dow_full = (
            "(?:Monday|Tuesday|Wednesday|Thursday|Friday|Saturday|Sunday)"
        )
        strip = None
        if pattern.startswith("EEEE, "):
            strip, pattern = f"^{dow_full}, ", pattern[6:]
        elif pattern.startswith("EEE, "):
            strip, pattern = f"^{dow}, ", pattern[5:]
        elif pattern.startswith("EEE "):
            strip, pattern = f"^{dow} ", pattern[4:]
        if strip is not None:
            col = F.when(
                col.rlike(strip), F.regexp_replace(col, strip, "")
            ).otherwise(F.lit(None).cast("string"))
        # CUSTOM layouts can also carry a mid-pattern weekday
        # ("2006-01-02 Mon 15:04"): the anchored branches above only
        # cover the named layouts' leading forms, and any E token left
        # in a PARSE pattern throws DATETIME_PATTERN_RECOGNITION before
        # seeing data. Drop the token wherever it sits and strip the
        # weekday name (plus one adjacent space) from the input — a
        # time string carries at most one weekday, so the global
        # regexp_replace is safe.
        for tok, names in (("EEEE", dow_full), ("EEE", dow)):
            if tok in pattern:
                if f"{tok} " in pattern:
                    pattern = pattern.replace(f"{tok} ", "", 1)
                    rx = f"{names} "
                elif f" {tok}" in pattern:
                    pattern = pattern.replace(f" {tok}", "", 1)
                    rx = f" {names}"
                else:
                    pattern = pattern.replace(tok, "", 1)
                    rx = names
                col = F.when(
                    col.rlike(rx), F.regexp_replace(col, rx, "")
                ).otherwise(F.lit(None).cast("string"))
        # Go's _2 space-pads days < 10: collapse runs for the NAMED
        # layouts that use it AND any custom layout containing _2 (the
        # membership test alone silently skipped custom strings, so
        # "Jan  2 ..." input failed to parse for days 1-9)
        if fmt in _GO_SPACE_PAD_DAY or "_2" in fmt:
            col = F.regexp_replace(col, "  +", " ")
        return F.to_timestamp(col, pattern)

    def _format(self, ts: Column) -> Column:
        fmt = self.dst_format
        if fmt == "unix":
            return _s(F.unix_timestamp(ts))
        if fmt == "unixms":
            return _s(F.unix_millis(ts))
        if fmt == "unixns":
            return _s(F.unix_micros(ts) * 1000)
        pattern = GO_LAYOUTS.get(fmt) or _go_layout_to_java(fmt)
        if fmt == "RFC3339Nano":
            # Go trims trailing fraction zeros (and a bare dot); Spark's
            # date_format emits fixed-width digits, so format at micros
            # then trim before the zone suffix
            full = F.date_format(ts, "yyyy-MM-dd'T'HH:mm:ss.SSSSSSXXX")
            trimmed = F.regexp_replace(full, r"(\.\d*?)0+(?=Z|[+-])", r"$1")
            return F.regexp_replace(trimmed, r"\.(?=Z|[+-])", "")
        if fmt in _GO_SPACE_PAD_DAY:
            # Java has no space-pad pattern letter Spark accepts, so the
            # padded day is spliced in between the two pattern halves
            pre, _, post = pattern.partition(" d ")
            return F.concat(
                F.date_format(ts, pre + " "),
                F.lpad(F.dayofmonth(ts).cast("string"), 2, " "),
                F.date_format(ts, " " + post),
            )
        return F.date_format(ts, pattern)

    def apply(self, df: DataFrame) -> DataFrame:
        out = self._format(self._parse(F.col(self.src)))
        return df.withColumn(self.dst, F.coalesce(out, F.lit("")))


@register
class Hash(Operator):
    """md5/sha256 of src into dst, hex or raw encoding
    (/root/reference/filter/hash.go:67-96)."""

    name = "Hash"

    def __init__(self, src_field: str, dst_field: str, function: str = "md5", encoding: str = ""):
        # default '' = raw digest pass-through, matching hash.go:82-93
        # (a reference TOML omitting Encoding gets raw bytes, not hex);
        # raw lands in a BINARY column, which the line serializer and
        # binary->string cast carry byte-verbatim like Go's []byte.
        if function not in ("md5", "sha256"):
            raise ValueError(f"unsupported hash function {function!r}")
        if encoding not in ("hex", "raw", ""):
            raise ValueError(f"unsupported encoding {encoding!r}")
        self.src, self.dst, self.function, self.encoding = src_field, dst_field, function, encoding

    def apply(self, df: DataFrame) -> DataFrame:
        hexed = f"md5({_sq(self.src)})" if self.function == "md5" else f"sha2({_sq(self.src)}, 256)"
        out = hexed if self.encoding == "hex" else f"unhex({hexed})"
        return df.withColumn(self.dst, F.expr(out))


@register
class NotNull(Operator):
    """Drop rows where any listed field is null/empty
    (/root/reference/filter/notnull.go:10-62)."""

    name = "NotNull"

    def __init__(self, fields: list[str]):
        self.fields = list(fields)

    def apply(self, df: DataFrame) -> DataFrame:
        # Fields=[] is legal in the reference (its loop simply passes
        # every record) — `true` keeps everything. One expr string: the
        # old per-field reduce cost ~0.1s of py4j per chain build.
        pred = " AND ".join(
            f"NOT ({_sq(f)} IS NULL OR {_sq(f)} = '')" for f in self.fields
        )
        return df.filter(F.expr(pred or "true"))


@register
class PartialClone(Operator):
    """Project to only the listed fields
    (/root/reference/filter/partial_clone.go:9-57)."""

    name = "PartialClone"

    def __init__(self, fields: list[str]):
        self.fields = list(fields)

    def apply(self, df: DataFrame) -> DataFrame:
        return df.select(*self.fields)


@register
class RegexMatch(Operator):
    """Keep rows where every field_i rlikes regex_i; invert drops them
    (/root/reference/filter/regex_match.go:93-100: drop iff match==invert)."""

    name = "RegexMatch"

    def __init__(self, fields: list[str], regexs: list[str], invert_match: bool = False):
        if len(fields) != len(regexs):
            raise ValueError("Fields and Regexs must have the same length")
        self.pairs = list(zip(fields, regexs))
        self.invert = invert_match

    def apply(self, df: DataFrame) -> DataFrame:
        # initializer: Fields=[] is legal in the reference — zero checks
        # leave match vacuously true (keep; under invert, drop). One
        # expr string (round 14): the per-pair Column chain cost ~5 py4j
        # round trips per regex; regex literals escaped so they survive
        # the SQL parser byte-identical (same rule as text.sql_str).
        if not self.pairs:
            match = "true"
        else:
            match = "(" + " AND ".join(
                f"(coalesce({_sq(f)}, '') rlike {sql_str(rx)})"
                for f, rx in self.pairs
            ) + ")"
        return df.filter(F.expr(f"(NOT {match})" if self.invert else match))


@register
class ReplaceFields(Operator):
    """Copy src->dst pairs and constant value->dst pairs
    (/root/reference/filter/replace_fields.go:10-113). ``copy_fields`` and
    ``replace_fields`` are flat [a, b, a2, b2, ...] lists like the TOML."""

    name = "ReplaceFields"

    def __init__(self, copy_fields: list[str] | None = None, replace_fields: list[str] | None = None):
        copy_fields = copy_fields or []
        replace_fields = replace_fields or []
        if len(copy_fields) % 2 or len(replace_fields) % 2:
            raise ValueError("CopyFields/ReplaceFields need an even number of items")
        self.copies = list(zip(copy_fields[::2], copy_fields[1::2]))
        self.consts = list(zip(replace_fields[::2], replace_fields[1::2]))
        dsts = [d for _, d in self.copies] + [d for _, d in self.consts]
        if len(set(dsts)) != len(dsts):
            raise ValueError("a destination field is used multiple times")
        for s, d in self.copies:
            if s == d:
                raise ValueError(f"copying field {s} onto itself")

    def apply(self, df: DataFrame) -> DataFrame:
        updates: dict[str, Column] = {}
        for src, dst in self.copies:
            updates[dst] = F.col(src).cast("string")
        for value, dst in self.consts:
            updates[dst] = F.lit(value)
        return df.withColumns(updates)


@register
class Slice(Operator):
    """Byte-slice src[start:end) into dst, clamped
    (/root/reference/filter/slice.go:9-87). Byte (not char) semantics are
    preserved by slicing the UTF-8 encoding — offsets and clamping are
    byte-exact.

    DOCUMENTED DEVIATION: a slice boundary that cuts a multibyte
    character mid-sequence yields U+FFFD for the torn bytes where the
    reference (whose fields are raw []byte) carries the partial bytes
    verbatim. Spark string columns are validated UTF-8, so raw torn
    bytes cannot ride a string field; every slice landing on character
    boundaries — including all-ASCII data, the reference's log domain —
    is byte-identical."""

    name = "Slice"

    def __init__(self, src: str, dst: str, start_idx: int = 0, end_idx: int | None = None):
        if start_idx < 0 or (end_idx is not None and end_idx < start_idx):
            raise ValueError("invalid slice bounds")
        self.src, self.dst, self.start, self.end = src, dst, start_idx, end_idx

    def apply(self, df: DataFrame) -> DataFrame:
        raw = F.encode(F.col(self.src).cast("string"), "UTF-8")
        length = (self.end - self.start) if self.end is not None else (1 << 30)
        sliced = F.substring(raw, self.start + 1, length)
        return df.withColumn(self.dst, F.decode(sliced, "UTF-8"))


@register
class StringMatch(Operator):
    """Drop rows whose field equals any of the strings; invert keeps only
    matches (/root/reference/filter/string_match.go:63-82: drop iff
    isMatchAny == !invert)."""

    name = "StringMatch"

    def __init__(self, field: str, strings: list[str], invert_match: bool = False):
        if not strings:
            raise ValueError("at least one string must be defined")
        self.field, self.strings, self.invert = field, list(strings), invert_match

    def apply(self, df: DataFrame) -> DataFrame:
        match = F.coalesce(F.col(self.field).cast("string"), F.lit("")).isin(self.strings)
        return df.filter(match if self.invert else ~match)


@register
class Timestamp(Operator):
    """Set field to processing-time epoch seconds
    (/root/reference/filter/timestamp.go:11-52). ``fixed_time`` freezes the
    clock for deterministic tests."""

    name = "Timestamp"

    def __init__(self, field: str, fixed_time: int | None = None):
        self.field, self.fixed_time = field, fixed_time

    def apply(self, df: DataFrame) -> DataFrame:
        col = (
            F.lit(self.fixed_time)
            if self.fixed_time is not None
            else F.unix_timestamp(F.current_timestamp())
        )
        return df.withColumn(self.field, _s(col))


def _parse_bound(value: str | None) -> int | None:
    if not value or value == "no bound":
        return None
    if value == "now":
        return int(datetime.now(tz=timezone.utc).timestamp())
    dt = datetime.strptime(value, "%Y-%m-%d %H:%M:%S").replace(tzinfo=timezone.utc)
    return int(dt.timestamp())


@register
class TimestampRange(Operator):
    """Keep rows whose epoch field is in [start, end); non-integers drop
    (/root/reference/filter/timestamp_range.go:12-105)."""

    name = "TimestampRange"

    def __init__(self, field: str, start_datetime: str | None = None, end_datetime: str | None = None):
        self.field = field
        self.start = _parse_bound(start_datetime)
        self.end = _parse_bound(end_datetime)

    def apply(self, df: DataFrame) -> DataFrame:
        # via string so the predicate is identical on a natively-typed
        # frame and on the all-string record frame. The rlike guard IS
        # the ParseInt strictness: Spark's non-ANSI cast would accept
        # '1700000000.9' (truncates) and ' 17 ' (trims) — rows the
        # reference's strconv.ParseInt rejects and drops
        # (timestamp_range.go:92)
        epoch = (
            f"(CASE WHEN {_sq(self.field)} RLIKE '^-?[0-9]+$' "
            f"THEN cast({_sq(self.field)} as bigint) END)"
        )
        pred = f"{epoch} IS NOT NULL"
        if self.start is not None:
            pred += f" AND {epoch} >= {int(self.start)}L"
        if self.end is not None:
            pred += f" AND {epoch} < {int(self.end)}L"
        return df.filter(F.expr(pred))


@register
class URLEscape(Operator):
    """URL query-escape/unescape src into dst; failed unescape clears dst
    (/root/reference/filter/url_escape.go:12-79)."""

    name = "URLEscape"

    def __init__(self, src_field: str, dst_field: str, unescape: bool = False):
        self.src, self.dst, self.unescape = src_field, dst_field, unescape

    def apply(self, df: DataFrame) -> DataFrame:
        col = F.col(self.src).cast("string")
        out = F.try_url_decode(col) if self.unescape else F.url_encode(col)
        return df.withColumn(self.dst, F.coalesce(out, F.lit("")))


@register
class URLParam(Operator):
    """Extract one query parameter from a URL field; '' on any error
    (/root/reference/filter/url_param.go:10-73)."""

    name = "URLParam"

    def __init__(self, src_field: str, dst_field: str, param: str):
        self.src, self.dst, self.param = src_field, dst_field, param

    def apply(self, df: DataFrame) -> DataFrame:
        # parse_url returns the still-PERCENT-ENCODED value; the
        # reference goes through url.Query().Get, which both %XX-decodes
        # and maps '+' to space (url_param.go:61-63). try_url_decode is
        # exactly that x-www-form-urlencoded decode; an invalid escape
        # yields NULL -> '' like Go's skipped bad pair.
        raw = F.parse_url(F.col(self.src).cast("string"), F.lit("QUERY"), F.lit(self.param))
        return df.withColumn(self.dst, F.coalesce(F.try_url_decode(raw), F.lit("")))
