"""Every example topology compiles and runs (FileWriter paths are
redirected into tmp; the repo-relative tests/fixtures/ inputs are
anchored at the repo root, so the run does not depend on the working
directory)."""

import glob
import json
import os

import pytest

from baker_spark.plans import compile_toml
from tests.conftest import FIXTURES

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EXAMPLES = sorted(glob.glob(os.path.join(REPO, "examples", "*.toml")))


def _load_example(path, tmp_path):
    text = open(path).read().replace("_out/", f"{tmp_path}/")
    return text.replace('"tests/fixtures/', f'"{REPO}/tests/fixtures/')


@pytest.mark.parametrize("path", EXAMPLES, ids=[os.path.basename(p) for p in EXAMPLES])
def test_example_runs(spark, tmp_path, path):
    pipeline = compile_toml(_load_example(path, tmp_path))
    result = pipeline.run(spark)
    if isinstance(result, str):  # FileWriter output dir
        parts = [f for f in os.listdir(result) if f.endswith(".csv.gz")]
        assert parts, f"no output files from {path}"
    elif isinstance(result, list):  # Recorder
        assert result


def test_sharding_colocates_keys(spark, tmp_path):
    """Same city -> same output file (topology.go:341-347 guarantee)."""
    import gzip

    pipeline = compile_toml(_load_example(os.path.join(REPO, "examples", "sharding.toml"), tmp_path))
    out_dir = pipeline.run(spark)
    city_to_files: dict[str, set] = {}
    for name in os.listdir(out_dir):
        if not name.endswith(".csv.gz"):
            continue
        with gzip.open(os.path.join(out_dir, name), "rt") as fh:
            for line in fh:
                city = line.split(",")[1]
                city_to_files.setdefault(city, set()).add(name)
    assert city_to_files
    for city, files in city_to_files.items():
        assert len(files) == 1, f"city {city} split across {files}"


def test_cli_run_subprocess(tmp_path):
    """The console entry point end-to-end in a fresh interpreter —
    the exact invocation a migrating baker user runs first."""
    import subprocess
    import sys as _sys

    toml = tmp_path / "t.toml"
    toml.write_text(f"""
[fields]
names=["timestamp","source","target"]
[input]
name="List"
[input.config]
files=["{FIXTURES}/input.csv.zst"]
[[filter]]
name="NotNull"
[filter.config]
Fields=["timestamp"]
[output]
name="FileWriter"
[output.config]
PathString="{tmp_path}/out/o.csv.gz"
""")
    env = dict(os.environ, SPARK_GRAFT_CPUS="2")
    proc = subprocess.run(
        [_sys.executable, "-m", "baker_spark", "run", str(toml), "--cpus", "2"],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=180,
        env=env,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    out_files = glob.glob(f"{tmp_path}/out/**/*.gz", recursive=True)
    assert out_files


@pytest.mark.parametrize("topology", ["sharding", "tcp_daemon"])
def test_cli_explain_subprocess(tmp_path, topology):
    """`explain` prints the physical plan of a batch and of a daemon
    topology; both shard through one hash exchange. A fresh interpreter
    because cmd_explain stops its session."""
    import subprocess
    import sys as _sys

    if topology == "sharding":
        toml = os.path.join(REPO, "examples", "sharding.toml")
    else:
        spool = tmp_path / "spool"  # not created: the build must make it
        toml = tmp_path / "tcp.toml"
        toml.write_text(f"""
[fields]
names=["id","v"]
[input]
name="TCP"
[input.config]
Listener="127.0.0.1:0"
SpoolDir="{spool}"
[output]
name="Recorder"
sharding="id"
procs=3
""")
    proc = subprocess.run(
        [_sys.executable, "-m", "baker_spark", "explain", str(toml)],
        cwd=REPO,
        capture_output=True,
        text=True,
        timeout=180,
        env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "== Physical Plan ==" in proc.stdout
    assert "Exchange" in proc.stdout and "hashpartitioning(" in proc.stdout


def test_cli_run_tcp_daemon_receives_and_drains_on_sigint(tmp_path):
    """`run` on a TCP topology starts the listener, a gzip connection's
    rows land in the FileWriter output, and SIGINT drains the query and
    exits 0 (the reference's Ctrl-C drain, topology.go:282-288)."""
    import gzip
    import json
    import signal
    import subprocess
    import sys as _sys
    import threading
    import time

    from baker_spark.streaming.tcp import send_gzip_records

    toml = tmp_path / "tcp.toml"
    toml.write_text(f"""
[fields]
names=["id","v"]
[input]
name="TCP"
[input.config]
Listener="127.0.0.1:0"
SpoolDir="{tmp_path}/spool"
[output]
name="FileWriter"
[output.config]
PathString="{tmp_path}/out/o.csv.gz"
""")
    proc = subprocess.Popen(
        [_sys.executable, "-m", "baker_spark", "run", str(toml), "--cpus", "2",
         "--checkpoint", str(tmp_path / "ckpt")],
        cwd=REPO,
        stdout=subprocess.DEVNULL,
        stderr=subprocess.PIPE,
        text=True,
        env=dict(os.environ, SPARK_GRAFT_CPUS="2"),
    )
    lines: list[str] = []
    addr = threading.Event()
    addrs: list[str] = []

    def _drain():  # keep reading so Spark's log4j lines never block the pipe
        for line in proc.stderr:
            lines.append(line)
            if line.startswith("{") and '"tcp listener started"' in line:
                addrs.append(json.loads(line)["addr"])
                addr.set()

    reader = threading.Thread(target=_drain, daemon=True)
    reader.start()
    try:
        assert addr.wait(180), "".join(lines)[-2000:]
        host, _, port = addrs[0].rpartition(":")
        send_gzip_records(host, int(port), b"1,a\n2,b\n")
        out_dir = tmp_path / "out" / "o.csv.gz.d"
        deadline = time.time() + 120
        rows: list[bytes] = []
        while time.time() < deadline and len(rows) < 2:
            rows = [
                line
                for f in glob.glob(f"{out_dir}/*.csv.gz")
                for line in gzip.open(f).read().splitlines()
            ]
            time.sleep(0.5)
        assert sorted(rows) == [b"1,a", b"2,b"], "".join(lines)[-2000:]
        proc.send_signal(signal.SIGINT)
        assert proc.wait(timeout=120) == 0, "".join(lines)[-2000:]
    finally:
        if proc.poll() is None:
            proc.kill()
            proc.wait()
    reader.join(timeout=10)
    assert not any("Traceback" in line for line in lines), "".join(lines)[-2000:]


def test_cli_help_covers_inputs_and_outputs(capsys):
    """The reference's -help documents inputs/outputs, not just filters
    (baker_cli.go); ours must resolve every TOML component name."""
    from baker_spark import cli

    for component in ["SQS", "Kinesis", "TCP", "FileWriter", "DynamoDB", "Stats", "List"]:
        assert cli.cmd_help(component) == 0, component
        out = capsys.readouterr().out
        # the reference's markdown shape (help_markdown.go): an Overview,
        # then a config-key table with the five helpConfigKey columns
        assert component.lower() in out.lower()
        assert "### Overview" in out and "### Configuration" in out
        assert "|Name|Type|Default|Required|Description|" in out
    assert cli.cmd_help("NoSuchThing") == 1


def test_cli_help_config_key_table_fidelity(capsys):
    """help FileWriter renders its TOML keys with defaults, requiredness
    and the #:-comment descriptions; help '*' renders every component."""
    from baker_spark import cli

    assert cli.cmd_help("FileWriter") == 0
    out = capsys.readouterr().out
    assert "| PathString| str| '_out'| false| output location;" in out
    assert "| ZstdCompressionLevel| int| 3| false| 1 = fastest" in out
    assert "| DiscardEmptyFiles| bool| False| false|" in out
    assert cli.cmd_help("DynamoDB") == 0
    assert "| Table| str| | true| the table to write|" in capsys.readouterr().out

    # help SQS lists exactly the [input.config] keys the compiler reads
    assert cli.cmd_help("SQS") == 0
    out = capsys.readouterr().out
    keys = [ln.split("|")[1].strip() for ln in out.splitlines() if ln.startswith("| ")]
    assert keys == [
        "QueueNames",
        "QueuePrefixes",
        "MessageFormat",
        "MessageExpression",
        "Bucket",
        "FilePathFilter",
        "AWSRegion",
        "FakeDir",
    ]
    assert "| MessageFormat| str| 'sns'| false|" in out

    assert cli.cmd_help("ClauseFilter") == 0
    out = capsys.readouterr().out
    assert "## Filter *ClauseFilter*" in out
    assert "| Clause| str| ''| false| |" in out                # CamelCase TOML key

    assert cli.cmd_help("*") == 0
    out = capsys.readouterr().out
    assert out.count("## ") >= 40  # every registered component rendered

    assert cli.cmd_list() == 0
    listing = capsys.readouterr().out
    for section in ("Operators", "Inputs (TOML):", "Outputs (TOML):", "Upload:", "Metrics:"):
        assert section in listing


#: the least config each TOML component compiles with
_MINIMAL = {
    "List": {"files": []},
    "JsonLines": {"files": []},
    "Parquet": {"files": []},
    "SQS": {"FakeDir": "/tmp/queue"},
    "Kinesis": {"Stream": "s"},
    "KCL": {"Stream": "s", "AppName": "app"},
    "TCP": {"SpoolDir": "/tmp/spool"},
    "DynamoDB": {"Table": "t", "Columns": ["s:c"]},
    "S3": {"Bucket": "b"},
}


def _toml_for(section: str, name: str, cfg: dict) -> str:
    """A topology whose ``section`` is component ``name`` with ``cfg`` as
    its config table (JSON scalars and string lists are TOML values)."""
    body = "".join(f"{k} = {json.dumps(v)}\n" for k, v in cfg.items())
    text = '[fields]\nnames = ["a"]\n'
    if section != "input":
        text += '[input]\nname = "List"\n[input.config]\nfiles = []\n'
    if section == "filter":
        return text + f'[[filter]]\nname = "{name}"\n[filter.config]\n{body}'
    fields = 'fields = ["a"]\n' if section == "output" else ""
    return text + f'[{section}]\nname = "{name}"\n{fields}[{section}.config]\n{body}'


def _components():
    from baker_spark.operators import REGISTRY
    from baker_spark.plans.toml_compiler import (
        BATCH_INPUTS,
        METRICS,
        SINKS,
        STREAMING_INPUTS,
        UPLOADS,
    )

    tables = {
        "input": {**BATCH_INPUTS, **STREAMING_INPUTS},
        "output": SINKS,
        "upload": UPLOADS,
        "metrics": METRICS,
        "filter": {cls.name: cls for cls in REGISTRY.values()},
    }
    return [(section, name) for section, table in tables.items() for name in table]


COMPONENTS = _components()


def test_cli_toml_surface_matches_compiler_dispatch():
    """Every name in the compiler's component tables — the dicts `list`
    and `help` render — compiles with a minimal config, and an unknown
    name's error lists the table's names."""
    from baker_spark.plans.toml_compiler import BATCH_INPUTS, SINKS, STREAMING_INPUTS

    for section, name in COMPONENTS:
        if section != "filter":
            compile_toml(_toml_for(section, name, _MINIMAL.get(name, {})))

    with pytest.raises(ValueError, match="unknown output 'NoSuchOutput'") as exc:
        compile_toml(_toml_for("output", "NoSuchOutput", {}))
    assert all(n in str(exc.value) for n in SINKS)
    with pytest.raises(ValueError, match="unknown input 'NoSuchInput'") as exc:
        compile_toml(_toml_for("input", "NoSuchInput", {}))
    assert all(n in str(exc.value) for n in (*BATCH_INPUTS, *STREAMING_INPUTS))


@pytest.mark.parametrize("section,name", COMPONENTS, ids=[f"{s}:{n}" for s, n in COMPONENTS])
def test_help_keys_are_the_keys_compile_accepts(capsys, section, name):
    """`help <Name>` prints exactly the keys compile decodes: an unknown
    key fails naming the valid keys, which are the printed ones, and
    every printed key is accepted (the reference's one decode per
    component, config.go:233-277,404-406)."""
    import ast
    import re

    from baker_spark import cli

    assert cli.cmd_help(name) == 0
    rows = [
        [c.strip() for c in re.split(r"(?<!\\)\|", ln)[1:-1]]
        for ln in capsys.readouterr().out.splitlines()
        if ln.startswith("| ")
    ]
    printed = [r[0] for r in rows]

    with pytest.raises(ValueError, match="unknown config key 'NoSuchKey'; valid keys: ") as exc:
        compile_toml(_toml_for(section, name, {"NoSuchKey": 1}))
    valid = str(exc.value).split("valid keys: ", 1)[1]
    assert printed == ([] if valid == "none" else valid.split(", "))

    minimal = _MINIMAL.get(name, {})
    for key, _type, default, _required, _desc in rows:
        value = minimal.get(key)
        if value is None and default:
            value = ast.literal_eval(default)
        value = list(value) if isinstance(value, tuple) else value
        try:
            compile_toml(_toml_for(section, name, {**minimal, key: "x" if value is None else value}))
        except Exception as e:  # a bad value may fail, an unknown key may not
            assert "unknown config key" not in str(e), (key, e)


def test_config_keys_match_case_and_underscore_insensitively(tmp_path):
    """PathString, pathstring and path_string are one key, as baker's
    TOML decode matches keys."""
    paths = {
        compile_toml(_toml_for("output", "FileWriter", {key: f"{tmp_path}/o"})).sink.path
        for key in ("PathString", "pathstring", "path_string")
    }
    assert paths == {f"{tmp_path}/o"}


@pytest.mark.parametrize(
    "section,name,cfg",
    [
        ("input", "TCP", {"SpoolDir": "/tmp/spool", "ListenPort": 7000}),
        ("input", "Kinesis", {"Stream": "s", "Region": "eu-west-1"}),
        ("upload", "S3", {"Bucket": "b", "RemoveAfter": False}),
        ("output", "FileWriter", {"PathString": "/tmp/o", "RotateSzie": "1MB"}),
    ],
    ids=["TCP-ListenPort", "Kinesis-Region", "S3-RemoveAfter", "FileWriter-RotateSzie"],
)
def test_undecoded_config_keys_fail_at_compile(section, name, cfg):
    """Keys the compiler once dropped without a word — a help-listed
    Python field it never read, or a typo — fail at compile time."""
    bad = list(cfg)[-1]
    with pytest.raises(ValueError, match=f"{name} .*unknown config key '{bad}'"):
        compile_toml(_toml_for(section, name, cfg))
