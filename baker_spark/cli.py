"""Command-line entry point — the analog of the reference's MainCLI
(/root/reference/baker_cli.go:29-...): run a TOML topology, print
component help, list components, or explain the physical plan.

    python -m baker_spark run topology.toml
    python -m baker_spark explain topology.toml
    python -m baker_spark help ClauseFilter
    python -m baker_spark list
"""

from __future__ import annotations

import argparse
import inspect
import sys


def _registry():
    from baker_spark.operators import REGISTRY

    return REGISTRY


def _io_registry() -> dict[str, dict]:
    """Inputs, outputs, uploads and metrics clients by TOML name — the
    `-help Input/Output` surface the reference builds from its component
    Descs.

    The TOML sections are the compiler's own component tables, so `list`
    advertises exactly the names `run` accepts and `help` exactly the
    keys it decodes; components usable only through the Python API are
    listed separately."""
    from baker_spark.datapipe.ingest import CorpusIngest
    from baker_spark.plans.toml_compiler import (
        BATCH_INPUTS,
        METRICS,
        SINKS,
        STREAMING_INPUTS,
        UPLOADS,
    )
    from baker_spark.sinks.websocket_server import WebSocketBroadcastServer
    from baker_spark.streaming.daemon import FileStreamSource

    return {
        "Inputs (TOML)": {**BATCH_INPUTS, **STREAMING_INPUTS},
        "Outputs (TOML)": SINKS,
        "Python API only": {
            "WebSocketServer": WebSocketBroadcastServer,
            "CorpusIngest": CorpusIngest,
            "FileStream": FileStreamSource,
        },
        "Upload": UPLOADS,
        "Metrics": METRICS,
    }


def _owner(fn) -> type:
    """The class behind a table entry: the class itself, or the class
    of a ``from_config`` classmethod."""
    return getattr(fn, "__self__", fn)


def _first_doc_line(fn) -> str:
    cls = _owner(fn)
    doc = inspect.getdoc(cls) or ""
    if not doc or doc.startswith(cls.__name__ + "("):
        return ""  # dataclass auto-signature, not help text
    return doc.splitlines()[0]


def cmd_list() -> int:
    print("Operators (filters):")
    for name, cls in sorted(_registry().items()):
        print(f"  {cls.name:24s} {_first_doc_line(cls)}")
    for section, components in _io_registry().items():
        print(f"\n{section}:")
        for name, fn in components.items():
            print(f"  {name:24s} {_first_doc_line(fn)}")
    return 0


def _field_comments(cls: type) -> dict[str, str]:
    """Per-key descriptions harvested from ``#:`` comments directly above
    class-level field assignments and above ``from_config`` parameters
    (the components document every key that way). Source parse — no
    runtime cost elsewhere."""
    import ast
    import textwrap

    try:
        tree = ast.parse(textwrap.dedent(inspect.getsource(cls)))
    except (OSError, TypeError, SyntaxError):
        return {}
    lines = inspect.getsource(cls).splitlines()
    out: dict[str, str] = {}
    for node in ast.walk(tree):
        if isinstance(node, ast.AnnAssign) and isinstance(node.target, ast.Name):
            name = node.target.id
        elif isinstance(node, ast.arg):
            name = node.arg
        else:
            continue
        doc: list[str] = []
        i = node.lineno - 2  # line above the assignment, 0-based
        while i >= 0 and lines[i].strip().startswith("#:"):
            doc.insert(0, lines[i].strip()[2:].strip())
            i -= 1
        if doc:
            out[name] = " ".join(doc)
    return out


def _type_name(annotation) -> str:
    if annotation is inspect.Parameter.empty:
        return ""
    # escape the union pipe — it would split the markdown table cell
    return str(annotation).replace("typing.", "").replace(" | ", r" \| ")


def _config_rows(fn, context=()) -> list[tuple[str, str, str, bool, str]]:
    """(Name, Type, Default, Required, Description) per config key —
    the reference's helpConfigKey shape (help.go / help_markdown.go:
    genConfigKeysMarkdown renders exactly these five columns). The keys
    are the ones operators.base.decode accepts."""
    import dataclasses

    from baker_spark.operators.base import config_params, toml_key

    cls = _owner(fn)
    docs: dict[str, str] = {}
    for klass in reversed(cls.__mro__):  # inherited keys keep their docs
        docs.update(_field_comments(klass))
    # a dataclass default_factory shows in the signature as a sentinel
    factories = {
        f.name: f.default_factory
        for f in (dataclasses.fields(fn) if dataclasses.is_dataclass(fn) else ())
        if f.default_factory is not dataclasses.MISSING
    }
    rows = []
    for p in config_params(fn, context):
        required = p.default is inspect.Parameter.empty
        if required:
            default = ""
        elif p.name in factories:
            default = repr(factories[p.name]())
        else:
            default = repr(p.default)
        rows.append((toml_key(p.name), _type_name(p.annotation), default, required, docs.get(p.name, "")))
    return rows


def _print_component(title: str, fn, kind: str = "Filter", section: str = "filter") -> None:
    """Markdown help in the reference's RenderHelpMarkdown shape
    (/root/reference/help_markdown.go: genFilterMarkdown +
    genConfigKeysMarkdown): Overview from the docstring, then a
    |Name|Type|Default|Required|Description| table of config keys."""
    from baker_spark.plans.toml_compiler import INPUT_CONTEXT, OUTPUT_CONTEXT

    print(f"## {kind} *{title}*\n")
    print("### Overview")
    print(inspect.getdoc(_owner(fn)) or "(no help)")
    print("\n### Configuration")
    context = {"Input": INPUT_CONTEXT, "Output": OUTPUT_CONTEXT}.get(kind, ())
    rows = _config_rows(fn, context)
    if not rows:
        print("No configuration available")
        return
    print(f"\nKeys available in the `[{section}.config]` section:\n")
    print("|Name|Type|Default|Required|Description|")
    print("|----|:--:|:-----:|:------:|-----------|")
    for name, typ, default, required, desc in rows:
        print(f"| {name}| {typ}| {default}| {str(required).lower()}| {desc}|")
    print()


_SECTION_KIND = {
    "Inputs (TOML)": ("Input", "input"),
    "Outputs (TOML)": ("Output", "output"),
    "Python API only": ("Component", "output"),
    "Upload": ("Upload", "upload"),
    "Metrics": ("Metrics", "metrics"),
}


def cmd_help(component: str) -> int:
    if component == "*":  # reference: help '*' renders every component
        for cls in sorted(_registry().values(), key=lambda c: c.name):
            _print_component(cls.name, cls)
        for sec, components in _io_registry().items():
            kind, section = _SECTION_KIND[sec]
            for name, fn in components.items():
                _print_component(name, fn, kind, section)
        return 0
    cls = _registry().get(component.lower())
    if cls is not None:
        _print_component(cls.name, cls)
        return 0
    for sec, components in _io_registry().items():
        for name, fn in components.items():
            if name.lower() == component.lower():
                kind, section = _SECTION_KIND[sec]
                _print_component(name, fn, kind, section)
                return 0
    print(f"unknown component {component!r}", file=sys.stderr)
    return 1


def _compile(path: str):
    from baker_spark.plans import compile_toml_file

    return compile_toml_file(path)


def _log(msg: str, pretty: bool, level: str = "info", **fields) -> None:
    """The CLI's own operational lines, in the reference's two formats:
    logrus-JSONFormatter-shaped JSON by DEFAULT (baker_cli.go:31
    ``log.SetFormatter(&log.JSONFormatter{})``; keys level/msg/time plus
    structured fields) — ``-pretty`` switches to plain text
    (baker_cli.go:39, 'human-readable logging'). Spark's own JVM log4j
    stream is untouched either way; -v/-q govern its level."""
    import datetime
    import json

    if pretty:
        # keep the level marker: logrus's TextFormatter prints it too,
        # and warn-level filtering must work in both modes
        extra = " ".join(f"{k}={v}" for k, v in fields.items())
        print(
            f"level={level} {msg}{' ' + extra if extra else ''}", file=sys.stderr
        )
    else:
        doc = {
            "level": level,
            "msg": msg,
            "time": datetime.datetime.now(datetime.timezone.utc).isoformat(),
            **fields,
        }
        print(json.dumps(doc), file=sys.stderr)


def cmd_run(
    path: str,
    cpus: int | None,
    checkpoint: str | None = None,
    verbosity: str | None = None,
    pprof: str | None = None,
    pretty: bool = False,
) -> int:
    from baker_spark.session import get_spark
    from baker_spark.streaming.daemon import StreamingPipeline

    pipeline = _compile(path)
    spark = get_spark("baker_spark_cli", cpus=cpus)
    if verbosity:  # -v / -q, like the reference's MainCLI (baker_cli.go)
        spark.sparkContext.setLogLevel({"v": "INFO", "q": "ERROR"}[verbosity])
    if pprof:  # reference: -pprof host:port (baker_cli.go:40,61)
        from baker_spark.profiling import serve_pprof

        srv = serve_pprof(pprof, spark)
        host, port = srv.address[0], srv.address[1]
        _log("running pprof server", pretty, level="warning", addr=f"{host}:{port}")
        if not pretty:
            # alongside the JSON line, keep ONE greppable plain form for
            # legacy consumers; in pretty mode the _log line above IS the
            # plain form — printing both duplicated the startup marker
            print(f"running pprof server on {host}:{port}", file=sys.stderr)
    try:
        if isinstance(pipeline, StreamingPipeline):
            # daemon topology: runs until interrupted, like the
            # reference's SIGINT drain (topology.go:282-288); the
            # checkpoint dir makes a restart resume, not reprocess
            import tempfile
            import time

            ckpt = checkpoint or tempfile.mkdtemp(prefix="baker_spark_ckpt_")
            # KCL semantics: each AppName keeps independent positions
            # (the per-app lease table, kcl.go:27-49) — scope the base
            # dir by app so two apps sharing --checkpoint don't resume
            # from each other's offsets
            if hasattr(pipeline.source, "checkpoint_dir"):
                ckpt = pipeline.source.checkpoint_dir(ckpt)
            _log(
                "daemon topology started; Ctrl-C to stop",
                pretty,
                checkpoint=ckpt,
            )
            # a TCP input's listener feeds the spool the query tails
            tcp = None
            if hasattr(pipeline.source, "listener"):
                tcp = pipeline.source.listener()
                host, port = tcp.start()
                _log("tcp listener started", pretty, addr=f"{host}:{port}")
            try:
                query = pipeline.start(spark, ckpt)
                # poll instead of awaitTermination(): a SIGINT during that
                # py4j call makes SparkContext's handler re-enter the busy
                # connection (cancelAllJobs), and the Py4JError skips the
                # drain below
                try:
                    while query.isActive:
                        time.sleep(0.5)
                except KeyboardInterrupt:
                    query.stop()
                else:
                    query.awaitTermination()  # re-raises a failed query's error
            finally:
                if tcp is not None:
                    tcp.stop()
            return 0
        # a WebSocket sink's server binds at topology-run start (the
        # reference's output Run calls ListenAndServe up front) so
        # clients get the whole run to connect, not just the instant
        # between first write and process exit
        server = getattr(pipeline.sink, "server", None)
        if server is not None and not server.running:
            server.start()
        result = pipeline.run(spark)
        if result is not None and not isinstance(result, (str, list, dict, int)):
            result.show(20, truncate=False)  # sink-less topology: show rows
        elif result is not None:
            print(result)
    finally:
        # stop any sink-held resources (the reference's topology Stop()
        # closes outputs) — without this the CLI leaks the ws server
        pipeline.close()
        spark.stop()
    return 0


def cmd_explain(path: str) -> int:
    from baker_spark.session import get_spark

    pipeline = _compile(path)
    spark = get_spark("baker_spark_explain", cpus=2)
    try:
        pipeline.dataframe(spark).explain("formatted")
    finally:
        spark.stop()
    return 0


def main(argv: list[str] | None = None) -> int:
    parser = argparse.ArgumentParser(prog="baker_spark")
    sub = parser.add_subparsers(dest="cmd", required=True)
    run_p = sub.add_parser("run", help="run a TOML topology")
    run_p.add_argument("toml")
    run_p.add_argument("--cpus", type=int, default=None)
    run_p.add_argument(
        "--checkpoint", default=None, help="checkpoint dir for daemon topologies"
    )
    verb = run_p.add_mutually_exclusive_group()
    verb.add_argument(
        "-v", action="store_true", help="verbose logging (reference: -v)"
    )
    verb.add_argument(
        "-q", action="store_true", help="errors only (reference: -q)"
    )
    run_p.add_argument(
        "--pprof",
        default="",
        metavar="HOST:PORT",
        help="run a diagnostics server on host:port (reference: -pprof; "
        "use 'localhost:' for a free port) — /debug/pprof/profile, "
        "/debug/pprof/threads, /debug/spark/status",
    )
    run_p.add_argument(
        "--pretty",
        action="store_true",
        help="human-readable CLI log lines instead of the default JSON "
        "format (reference: -pretty)",
    )
    exp_p = sub.add_parser("explain", help="print the physical plan of a topology")
    exp_p.add_argument("toml")
    help_p = sub.add_parser("help", help="help for a component")
    help_p.add_argument("component")
    sub.add_parser("list", help="list registered components")

    args = parser.parse_args(argv)
    if args.cmd == "run":
        verbosity = "v" if args.v else ("q" if args.q else None)
        return cmd_run(
            args.toml, args.cpus, args.checkpoint, verbosity, args.pprof, args.pretty
        )
    if args.cmd == "explain":
        return cmd_explain(args.toml)
    if args.cmd == "help":
        return cmd_help(args.component)
    return cmd_list()


if __name__ == "__main__":
    raise SystemExit(main())
