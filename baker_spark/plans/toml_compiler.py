"""TOML topology -> Pipeline compiler.

Accepts the reference's TOML shape (/root/reference/config.go:279-422):

    [fields]            names=["a","b","c"]
    [csv]               field_separator=","        # or "\\u001e"
    [validation]        fieldname="^regex$"
    [input]             name="List"
    [input.config]      files=[...]
    [[filter]]          name="ClauseFilter"
    [filter.config]     Clause="..."
    [output]            name="FileWriter" procs=N fields=[...] sharding="f"
    [output.config]     PathString="..."

Semantics preserved: ${ENV} expansion in the raw text (config.go:221-231),
case-insensitive component names (config.go:300-351), unknown component
rejection, field schema supplied externally — never inferred
(config.go:427-468, duplicate names rejected like config.go:453-459).

The compiled IR is a :class:`baker_spark.pipeline.Pipeline`; executing it
builds DataFrame lineage, so Catalyst — not this compiler — performs the
optimization the reference never had (SURVEY.md §4.1).
"""

from __future__ import annotations

import os
import re
import tomllib

from baker_spark.metrics import DatadogMetrics
from baker_spark.operators import create as create_operator
from baker_spark.operators.base import decode, fold_key
from baker_spark.operators.topology import Validation
from baker_spark.pipeline import Pipeline
from baker_spark.sinks.dynamodb import DynamoDBWriter
from baker_spark.sinks.filewriter import FileWriter
from baker_spark.sinks.simple import Nop, OpLog, Recorder, WebSocketSink
from baker_spark.sinks.sqlite import SQLiteRawWriter, SQLiteWriter
from baker_spark.sinks.stats import Stats
from baker_spark.sinks.upload import S3Upload
from baker_spark.sources.list_source import ListSource
from baker_spark.sources.structured import JsonLinesSource, ParquetSource
from baker_spark.streaming.connectors import KCLSource, KinesisPythonSource
from baker_spark.streaming.daemon import StreamingPipeline
from baker_spark.streaming.sqs_datasource import SQSSource
from baker_spark.streaming.tcp import TCPFileSource

DEFAULT_SEPARATOR = ","  # DefaultLogLineFieldSeparator (logline.go)

_ENV_RX = re.compile(r"\$\{(\w+)\}|\$(\w+)")


def _expand_env(text: str) -> str:
    r"""${VAR}/$VAR expansion with the reference's os.Expand semantics
    (config.go:221-231 + os.Getenv): an UNSET variable expands to the
    empty string — os.path.expandvars would leave it literal, producing
    paths like '${OUT_DIR}/logs'."""
    return _ENV_RX.sub(
        lambda m: os.environ.get(m.group(1) or m.group(2), ""), text
    )


#: the component tables, one dict per TOML section: canonical name ->
#: the one callable its ``[*.config]`` keys decode into (the class, or
#: its ``from_config`` where the class takes more than its TOML keys).
#: compile_toml builds through these and the CLI's `list`/`help` render
#: them, so the advertised keys and the accepted ones cannot drift
BATCH_INPUTS = {"List": ListSource, "JsonLines": JsonLinesSource, "Parquet": ParquetSource}
#: the reference's daemon inputs (never exit; SURVEY.md §2.1) — these
#: compile to a StreamingPipeline instead of a batch Pipeline
STREAMING_INPUTS = {
    "SQS": SQSSource,
    "Kinesis": KinesisPythonSource,
    "KCL": KCLSource,
    "TCP": TCPFileSource.from_config,
}
SINKS = {
    "FileWriter": FileWriter.from_config,
    "DynamoDB": DynamoDBWriter.from_config,
    "SQLite": SQLiteWriter.from_config,
    "SQLiteRaw": SQLiteRawWriter.from_config,
    "Stats": Stats.from_config,
    "Nop": Nop,
    "OpLog": OpLog,
    "Recorder": Recorder,
    "WebSocket": WebSocketSink.from_config,
}
UPLOADS = {"S3": S3Upload.from_config}
METRICS = {"Datadog": DatadogMetrics.from_config}

#: the topology context a section's callables may ask for by parameter
#: name — never a [*.config] key of that section
INPUT_CONTEXT = ("fields", "separator")
OUTPUT_CONTEXT = ("output_fields", "separator")

#: [input.config] keys a streaming input no longer reads, with what
#: replaced them — rejected so an old topology fails loudly instead of
#: silently running without its setting. Keys are spelled as
#: operators.base.fold_key folds them
_RETIRED_KEYS = {
    "SQS": {
        "path": "Path was the watched directory of a file source that "
        "never read the queue; set QueueNames or QueuePrefixes "
        "(FakeDir for a local directory queue)",
        "maxfilespertrigger": "MaxFilesPerTrigger has no replacement: "
        "a micro-batch takes what one receive per queue returns",
    },
    "Kinesis": {
        "connector": "Connector has no replacement: the bakerkinesis "
        "source is the only Kinesis reader",
    },
    "TCP": {
        "decode": "Decode has no replacement: the listener always "
        "gzip-decodes on the driver",
    },
}
_RETIRED_KEYS["KCL"] = _RETIRED_KEYS["Kinesis"]


def _canonical(table: dict, name: str) -> str | None:
    """The table's spelling of a case-insensitive component name
    (config.go:300-351), or None when the table has no such name."""
    return next((n for n in table if n.lower() == name.lower()), None)


def _build(table: dict, kind: str, section: dict, context: dict | None = None):
    """One section's component: its ``name`` picks the callable from
    ``table`` and its ``[*.config]`` table decodes into that callable's
    keyword parameters (operators.base.decode)."""
    name = _canonical(table, section.get("name", ""))
    if name is None:
        raise ValueError(
            f"unknown {kind} {section.get('name')!r} ({kind}s: {', '.join(table)})"
        )
    cfg = section.get("config", {})
    for key in cfg:
        why = _RETIRED_KEYS.get(name, {}).get(fold_key(key))
        if why is not None:
            raise ValueError(f"{name} {kind}: {why}")
    return decode(table[name], cfg, context, f"{name} {kind}")


class UserDesc:
    """A named user-specific config section (the reference's UserDesc,
    config.go:88-89): register one per ``[[user]]`` block you expect;
    ``compile_toml`` decodes the block's ``[user.config]`` table into
    ``.config`` in place — a dict (updated) or any object (attributes
    set case-insensitively, unknown keys rejected like the reference's
    Undecoded check, config.go:404-406)."""

    def __init__(self, name: str, config):
        self.name = name
        self.config = config


def _decode_user_config(target, table: dict, section_name: str) -> None:
    if isinstance(target, dict):
        target.update(table)
        return
    attrs = {a.lower(): a for a in vars(target)}
    for key, value in table.items():
        attr = attrs.get(key.lower())
        if attr is None:
            raise ValueError(
                f"invalid keys in configuration file: user.{section_name}.{key}"
            )
        setattr(target, attr, value)


def _decode_user_sections(doc: dict, user: list[UserDesc] | None) -> None:
    # [[user]] blocks decode into registered UserDescs, matched
    # case-insensitively; an unregistered name is an error
    # (config.go:387-399)
    for cfg_user in doc.get("user", []):
        uname = cfg_user.get("name", "")
        desc = next(
            (u for u in (user or []) if u.name.lower() == uname.lower()), None
        )
        if desc is None:
            raise ValueError(f"user configuration does not exist: {uname!r}")
        _decode_user_config(desc.config, cfg_user.get("config", {}), uname)


def compile_toml(
    text: str,
    fields: list[str] | None = None,
    user: list[UserDesc] | None = None,
):
    """Compile a reference-shaped TOML topology. Batch inputs yield a
    :class:`Pipeline`; daemon inputs (SQS/Kinesis/KCL/TCP) yield its
    subclass :class:`baker_spark.streaming.daemon.StreamingPipeline`,
    built from the same topology arguments.
    ``user`` registers :class:`UserDesc` targets for ``[[user]]``
    blocks, decoded in place like the reference (config.go:387-399)."""
    text = _expand_env(text)  # ${ENV} expansion (config.go:221-231)
    doc = tomllib.loads(text)
    _decode_user_sections(doc, user)

    names = fields or doc.get("fields", {}).get("names", [])
    separator = doc.get("csv", {}).get("field_separator", DEFAULT_SEPARATOR)
    if separator.startswith("\\u"):
        separator = chr(int(separator[2:], 16))

    # the input builds before the [fields] check: a TCP section without
    # SpoolDir fails on that first, since a topology written for the
    # retired socket source has no fields either
    section = doc.get("input", {})
    source = _build(
        {**BATCH_INPUTS, **STREAMING_INPUTS},
        "input",
        section,
        dict(zip(INPUT_CONTEXT, (names, separator))),
    )
    # parquet is self-describing; kinesis sources carry their own (data)
    # schema until a parse step applies the field mapping
    if not names and not isinstance(source, (ParquetSource, KinesisPythonSource)):
        raise ValueError("[fields] names=[...] (or fields=) is required")
    if len(set(names)) != len(names):
        raise ValueError("duplicate field names")  # config.go:453-459

    ops = []
    validation = doc.get("validation", {})
    # [general] dont_validate_fields skips validation even when
    # [validation] is configured (config.go:102-103)
    skip_validation = doc.get("general", {}).get("dont_validate_fields", False)
    if validation and not skip_validation:
        ops.append(Validation(validation))
    for f in doc.get("filter", []):
        ops.append(create_operator(f["name"], **f.get("config", {})))

    out = doc.get("output", {})
    out_fields = out.get("fields") or None
    context = dict(zip(OUTPUT_CONTEXT, (out_fields, separator)))
    sink = _build(SINKS, "output", out, context) if out else None
    upload = doc.get("upload", {})
    metrics = doc.get("metrics", {})
    kw = dict(
        source=source,
        ops=ops,
        fields=out_fields,
        sharding=out.get("sharding") or None,
        procs=int(out.get("procs", 32)),
        sink=sink,
        upload=_build(UPLOADS, "upload", upload) if upload else None,
        metrics=_build(METRICS, "metrics client", metrics) if metrics else None,
        chain_procs=int(doc.get("filterchain", {}).get("procs", 0)) or None,
    )
    if _canonical(STREAMING_INPUTS, section.get("name", "")) is None:
        return Pipeline(**kw)
    trigger = None
    if isinstance(sink, FileWriter):
        # every micro-batch is a separate write call: the batch
        # default mode="overwrite" would clobber all previous
        # batches' files (see start_foreach_batch docstring)
        sink.mode = "append"
        # RotateInterval (filewriter.go:95): in daemon mode the time
        # rotation cadence IS the micro-batch trigger
        trigger = sink.rotate_interval
    return StreamingPipeline(**kw, trigger_seconds=trigger)


def compile_toml_file(
    path: str,
    fields: list[str] | None = None,
    user: list[UserDesc] | None = None,
) -> Pipeline:
    with open(path) as fh:
        return compile_toml(fh.read(), fields, user=user)
