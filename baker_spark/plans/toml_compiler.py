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

from baker_spark.operators import create as create_operator
from baker_spark.operators.topology import Validation
from baker_spark.pipeline import Pipeline
from baker_spark.sinks.dynamodb import DynamoDBWriter
from baker_spark.sinks.filewriter import FileWriter, parse_go_duration, parse_size_bytes
from baker_spark.sinks.simple import Nop, OpLog, Recorder, WebSocketSink
from baker_spark.sinks.sqlite import SQLiteWriter
from baker_spark.sinks.stats import Stats
from baker_spark.sinks.upload import S3Upload
from baker_spark.sources.list_source import ListSource
from baker_spark.sources.structured import JsonLinesSource, ParquetSource
from baker_spark.streaming.connectors import KinesisPythonSource, KinesisRecordsSource
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


def _snake_keys(cfg: dict) -> dict:
    from baker_spark.operators.base import _snake

    return {_snake(k): v for k, v in cfg.items()}


#: the component table, one dict per TOML section: canonical name ->
#: class. The builders below accept exactly these names and the CLI's
#: `list`/`help` render these dicts, so the advertised names and the
#: accepted ones cannot drift
BATCH_INPUTS = {"List": ListSource, "JsonLines": JsonLinesSource, "Parquet": ParquetSource}
#: the reference's daemon inputs (never exit; SURVEY.md §2.1) — these
#: compile to a StreamingPipeline instead of a batch Pipeline
STREAMING_INPUTS = {
    "SQS": SQSSource,
    "Kinesis": KinesisPythonSource,
    "KCL": KinesisPythonSource,
    "TCP": TCPFileSource,
}
SINKS = {
    "FileWriter": FileWriter,
    "DynamoDB": DynamoDBWriter,
    "SQLite": SQLiteWriter,
    "SQLiteRaw": SQLiteWriter,
    "Stats": Stats,
    "Nop": Nop,
    "OpLog": OpLog,
    "Recorder": Recorder,
    "WebSocket": WebSocketSink,
}


def _canonical(table: dict, name: str) -> str | None:
    """The table's spelling of a case-insensitive component name
    (config.go:300-351), or None when the table has no such name."""
    return next((n for n in table if n.lower() == name.lower()), None)


def _build_input(section: dict, fields: list[str], separator: str):
    name = _canonical(BATCH_INPUTS, section.get("name", ""))
    if name is None:
        raise ValueError(
            f"unknown input {section.get('name')!r} (batch inputs: "
            f"{', '.join(BATCH_INPUTS)}; daemon inputs: {', '.join(STREAMING_INPUTS)})"
        )
    cfg = _snake_keys(section.get("config", {}))
    region = cfg.get("region") or "us-west-2"  # reference default, input/list.go:60
    # s3:// DIRECTORY expansion lists via boto3 (ListObjectsV2), which
    # does not read the Hadoop fs.s3a.* conf the data read uses — a
    # MinIO/LocalStack/VPC deployment that sets fs.s3a.endpoint must
    # set s3_endpoint_url here too (AWS_ENDPOINT_URL_S3 env is the
    # boto3-native alternative). Concrete s3:// object paths never
    # touch boto3 and need no extra config.
    endpoint = cfg.get("s3_endpoint_url") or os.environ.get("AWS_ENDPOINT_URL_S3", "")
    kw = dict(
        files=cfg.get("files", []),
        fields=fields,
        match_path=cfg.get("match_path"),
        region=region,
        s3_endpoint_url=endpoint,
    )
    if name == "List":
        kw["separator"] = separator
    elif name == "Parquet":
        kw["fields"] = fields or None  # self-describing: no [fields] reads all
    return BATCH_INPUTS[name](**kw)


#: [input.config] keys a streaming input no longer reads, with what
#: replaced them — rejected so an old topology fails loudly instead of
#: silently running without its setting
_RETIRED_KEYS = {
    "SQS": {
        "path": "Path was the watched directory of a file source that "
        "never read the queue; set QueueNames or QueuePrefixes "
        "(FakeDir for a local directory queue)",
        "max_files_per_trigger": "MaxFilesPerTrigger has no replacement: "
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


def _build_streaming_input(section: dict, fields: list[str], separator: str):
    name = _canonical(STREAMING_INPUTS, section.get("name", ""))
    cfg = _snake_keys(section.get("config", {}))
    for key, why in _RETIRED_KEYS.get(name, {}).items():
        if key in cfg:
            raise ValueError(f"{section.get('name')} input: {why}")
    if name == "SQS":
        # input/sqs.go:25-39 polls queues for S3-path notifications and
        # streams those files: the bakersqs streaming source, which
        # journals each batch's file list in the offset WAL before it
        # deletes the messages
        src = SQSSource(
            queue_names=cfg.get("queue_names", []),
            queue_prefixes=cfg.get("queue_prefixes", []),
            message_format=cfg.get("message_format", "sns"),
            message_expression=cfg.get("message_expression", ""),
            bucket=cfg.get("bucket", ""),
            file_path_filter=cfg.get("file_path_filter", ""),
            aws_region=cfg.get("aws_region", "us-west-2"),
            fake_dir=cfg.get("fake_dir"),
            fields=fields,
            separator=separator,
        )
        # fail at compile time like the reference's config load
        # (sqs.go:105-131): no queue, a bad MessageFormat or
        # MessageExpression, an invalid FilePathFilter
        if not (src.queue_names or src.queue_prefixes or src.fake_dir):
            raise ValueError("SQS: QueuePrefixes or QueueNames must be set")
        src.parse_function()
        if src.file_path_filter:
            try:
                re.compile(src.file_path_filter)
            except re.error as exc:
                raise ValueError(f"SQS: invalid FilePathFilter: {exc}") from exc
        return src
    if name in ("Kinesis", "KCL"):
        # input/kinesis.go:20-26 / input/kcl.go:27-49: StreamName +
        # AWSRegion; the jar-free bakerkinesis source (boto3 in prod,
        # FakeDir in tests); KCL's DynamoDB lease/checkpoint table maps
        # to the query checkpoint dir
        stream = cfg.get("stream") or cfg.get("stream_name")  # ref key: Stream
        if not stream:
            raise ValueError("Kinesis input needs config Stream (kinesis.go:30)")
        position = cfg.get("initial_position", "LATEST")
        app_name = cfg.get("app_name")
        if name == "KCL":
            # kcl.go:54-62 validate(): AppName [A-Za-z0-9_]+ required,
            # InitialPosition LATEST|TRIM_HORIZON only
            if not app_name or not re.fullmatch(r"[A-Za-z_0-9]+", app_name):
                raise ValueError(
                    f"invalid 'AppName' {app_name!r}, accepts only [A-Za-z0-9_]+"
                )
            if position not in ("LATEST", "TRIM_HORIZON"):
                raise ValueError(
                    f"invalid 'InitialPosition' {position!r}, accepts only "
                    "'LATEST' or 'TRIM_HORIZON'"
                )
        src = KinesisPythonSource(
            stream_name=stream,
            region=cfg.get("aws_region", "us-west-2"),
            initial_position=position,
            app_name=app_name,
            fake_dir=cfg.get("fake_dir"),
            max_records_per_trigger=cfg.get("max_records_per_trigger"),
            lease_dir=cfg.get("lease_dir"),
            shard_filter=cfg.get("shard_filter"),
        )
        if not fields:
            return src  # no [fields]: hand the raw connector layout through
        # with [fields] the chain sees record columns: the connector's
        # data/partitionKey/approximateArrivalTimestamp layout is parsed
        # by kinesis_records (input/kinesis.go:145-150 newline-split)
        return KinesisRecordsSource(inner=src, fields=fields, separator=separator)
    # tcp — input/tcp.go:20-28 (":6000" listener; ref config key Listener)
    addr = cfg.get("listener") or cfg.get("listen_address", ":6000")
    host, _, port = addr.rpartition(":")
    # the reference's actual wire format: one gzip stream per
    # connection (tcp.go:146-210) — driver-side TCPGzipListener
    # decodes into the spool, the file stream ingests it
    return TCPFileSource(
        path=cfg["spool_dir"],
        fields=fields,
        separator=separator,
        listen_host=host or "127.0.0.1",
        listen_port=int(port),
    )


def _build_sink(section: dict, separator: str):
    name = _canonical(SINKS, section.get("name", ""))
    if name is None:
        raise ValueError(
            f"unknown output {section.get('name')!r} (outputs: {', '.join(SINKS)})"
        )
    cfg = _snake_keys(section.get("config", {}))
    if name == "FileWriter":
        path = cfg.get("path_string", cfg.get("pathstring", "_out"))
        # reference semantics (filewriter.go:257): gzip unless the path
        # says .zst/.zstd. Detected from the FULL PathString here, not
        # left to FileWriter.__post_init__: a time-templated path's
        # FileWriter only ever sees the pre-placeholder base DIRECTORY
        # ("/out" from "/out/{{.Year}}/log.zst"), which never carries
        # the extension — delegating would silently compile the zstd
        # config to gzip output.
        compression = (
            "zstd" if path.rstrip("/").endswith((".zst", ".zstd")) else "gzip"
        )
        zstd_level = int(cfg.get("zstd_compression_level", 0)) or 3
        # ZstdWindowLog (filewriter.go:99): long-range mode, 0=off
        zstd_window_log = int(cfg.get("zstd_window_log", 0))
        if "{{" in path:
            # time-templated PathString (filewriter.go:34-43):
            # {{.Year}}/{{.Month}}/{{.Day}} etc. become a partitioned
            # year=/month=/day= tree under the literal prefix;
            # {{.Field0}} becomes partitionBy on the first output field;
            # {{.Index}}/{{.UUID}}/{{.Rotation}} are Spark's task-file
            # naming and maxRecordsPerFile. TimestampField (extension)
            # switches the layout from batch wall clock to event time.
            from baker_spark.sinks.filewriter import parse_path_template

            base, time_parts, wants_field0 = parse_path_template(path)
            out_fields = section.get("fields") or []
            if wants_field0 and not out_fields:
                raise ValueError(
                    "FileWriter PathString uses {{.Field0}} but [output] has no fields"
                )
            return FileWriter(
                path=base,
                compression=compression,
                separator=separator,
                partition_by=out_fields[0] if wants_field0 else None,
                time_partitions=time_parts,
                timestamp_field=cfg.get("timestamp_field"),
                rotate_size_bytes=parse_size_bytes(cfg.get("rotate_size", 0)) or None,
                discard_empty_files=bool(cfg.get("discard_empty_files", False)),
                zstd_level=zstd_level,
                zstd_window_log=zstd_window_log,
            )
        # templateless path: its directory is the output dir; task files
        # replace the {{.Index}}/{{.UUID}} parts of the reference template
        out_dir = path if not os.path.splitext(path)[1] else path + ".d"
        return FileWriter(
            path=out_dir,
            compression=compression,
            separator=separator,
            rotate_size_bytes=parse_size_bytes(cfg.get("rotate_size", 0)) or None,
            discard_empty_files=bool(cfg.get("discard_empty_files", False)),
            zstd_level=zstd_level,
            zstd_window_log=zstd_window_log,
        )
    if name in ("Nop", "OpLog", "Recorder"):
        return SINKS[name]()
    if name == "WebSocket":
        # output/websocket.go:12-77: a registered output that runs a
        # broadcast server in-process (the reference hardcodes :8080 via
        # http.ListenAndServe; Port here is an extension so tests can
        # bind ephemeral) and pushes each record's selected fields to
        # every connected client
        from baker_spark.sinks.websocket_server import WebSocketBroadcastServer

        # NOT started here: compiling a config must not bind a port
        # (compiling the same plan twice at the default :8080 would
        # EADDRINUSE). The sink lazy-starts the server on first write
        # and Pipeline.close()/sink.close() stops it.
        server = WebSocketBroadcastServer(port=int(cfg.get("port", 8080)))
        return WebSocketSink(
            send_fn=server.broadcast,
            fields=section.get("fields") or None,
            server=server,
        )
    if name == "Stats":
        return Stats(
            # the frequency-tracked fields are the TOPOLOGY-level
            # [output] fields list (stats.go:258 iterates cfg.Fields of
            # OutputParams), same as FileWriter/WebSocket — reading them
            # from [output.config] left the per-field sections of a
            # reference TOML's report silently empty
            fields=section.get("fields") or cfg.get("fields", []),
            timestamp_field=cfg.get("timestamp_field"),
            separator=separator,
            # StatsConfig.CSVPath (output/stats.go:31, default stats.csv);
            # honored by write() — the reference always writes the report
            csv_path=cfg.get("csv_path", "stats.csv"),
        )
    if name in ("SQLite", "SQLiteRaw"):
        # output/sqlite.go:36-43 config keys; SQLiteRaw adds the
        # serialized-record BLOB column
        return SQLiteWriter(
            path=cfg.get("path_string", "out.sqlite3"),
            table=cfg.get("table_name", "records"),
            raw_column=name == "SQLiteRaw",
            separator=separator,
            pre_run=cfg.get("pre_run", []),
            post_run=cfg.get("post_run", []),
            clear=bool(cfg.get("clear", False)),
            vacuum=bool(cfg.get("vacuum", False)),
            page_size=int(cfg.get("page_size", 0)),
        )
    # DynamoDB — output/dyndb.go:20-31 config keys: Regions, Table, Columns
    return DynamoDBWriter(
        table=cfg["table"],
        columns=cfg["columns"],
        regions=cfg.get("regions", ["us-west-2"]),
        max_writes_per_sec=int(cfg.get("max_writes_per_sec", 0)),
        max_backoff=parse_go_duration(cfg.get("max_backoff", "2m")),
        # engine extension (not in dyndb.go): first-writer-wins
        # conditional puts for replay/race safety — see the sink's
        # module docstring for when to pay the per-item cost
        strict_once=bool(cfg.get("strict_once", False)),
    )


def _build_metrics(section: dict):
    # [metrics] name="datadog" + [metrics.config] Prefix/Host/Tags/
    # SendLogs (config.go:106-113; metrics/datadog/client.go:24-29)
    name = section.get("name", "").lower()
    cfg = _snake_keys(section.get("config", {}))
    if name == "datadog":
        from baker_spark.metrics import DatadogMetrics

        return DatadogMetrics.from_config(
            host=cfg.get("host", "127.0.0.1:8125"),
            prefix=cfg.get("prefix", "baker."),
            tags=cfg.get("tags", []),
            send_logs=bool(cfg.get("send_logs", False)),
        )
    raise ValueError(f"unknown metrics client {section.get('name')!r}")


def _build_upload(section: dict):
    name = section.get("name", "").lower()
    cfg = _snake_keys(section.get("config", {}))
    if name == "s3":
        # upload/s3.go:22-52 config keys: SourceBasePath, Bucket, Prefix
        return S3Upload(
            source_base_path=cfg.get("source_base_path", "_out"),
            bucket=cfg["bucket"],
            prefix=cfg.get("prefix", ""),
            retries=int(cfg.get("retries", 3)),
            # s3.go ExitOnError (default false: log-and-continue drain)
            exit_on_error=bool(cfg.get("exit_on_error", False)),
        )
    raise ValueError(f"unknown upload {section.get('name')!r}")


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
    input_name = doc.get("input", {}).get("name", "").lower()
    # a TCP section without SpoolDir fails on that before [fields]: a
    # topology written for the retired socket source has no fields either
    input_cfg = _snake_keys(doc.get("input", {}).get("config", {}))
    if input_name == "tcp" and not input_cfg.get("spool_dir"):
        raise ValueError(
            "TCP input: SpoolDir is required: the listener decodes the gzip wire "
            "format into it; the plaintext socket source that ran without it is retired"
        )
    # parquet is self-describing; kinesis sources carry their own (data)
    # schema until a parse step applies the field mapping
    if not names and input_name not in ("parquet", "kinesis", "kcl"):
        raise ValueError("[fields] names=[...] (or fields=) is required")
    if len(set(names)) != len(names):
        raise ValueError("duplicate field names")  # config.go:453-459

    separator = doc.get("csv", {}).get("field_separator", DEFAULT_SEPARATOR)
    if separator.startswith("\\u"):
        separator = chr(int(separator[2:], 16))

    streaming = _canonical(STREAMING_INPUTS, input_name) is not None
    build_input = _build_streaming_input if streaming else _build_input
    source = build_input(doc.get("input", {}), names, separator)

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
    sink = _build_sink(out, separator) if out else None
    upload = doc.get("upload", {})
    kw = dict(
        source=source,
        ops=ops,
        fields=out.get("fields") or None,
        sharding=out.get("sharding") or None,
        procs=int(out.get("procs", 32)),
        sink=sink,
        upload=_build_upload(upload) if upload else None,
        metrics=_build_metrics(doc["metrics"]) if doc.get("metrics") else None,
        chain_procs=int(doc.get("filterchain", {}).get("procs", 0)) or None,
    )
    if not streaming:
        return Pipeline(**kw)
    # RotateInterval (filewriter.go:95): in daemon mode the time
    # rotation cadence IS the micro-batch trigger; "-1" (disabled)
    # means as-fast-as-possible micro-batches. Kept as float seconds
    # — int() truncation would turn "500ms" into no-trigger
    rot = _snake_keys(out.get("config", {})).get("rotate_interval")
    trigger = None
    if rot is not None:
        secs = parse_go_duration(rot)
        trigger = secs if secs > 0 else None
    if isinstance(sink, FileWriter):
        # every micro-batch is a separate write call: the batch
        # default mode="overwrite" would clobber all previous
        # batches' files (see start_foreach_batch docstring)
        sink.mode = "append"
    return StreamingPipeline(**kw, trigger_seconds=trigger)


def compile_toml_file(
    path: str,
    fields: list[str] | None = None,
    user: list[UserDesc] | None = None,
) -> Pipeline:
    with open(path) as fh:
        return compile_toml(fh.read(), fields, user=user)
