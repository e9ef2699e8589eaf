"""Every example topology compiles and runs (FileWriter paths are
redirected into tmp; the repo-relative tests/fixtures/ inputs are
anchored at the repo root, so the run does not depend on the working
directory)."""

import glob
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
        spool = tmp_path / "spool"
        spool.mkdir()
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
    assert "| Path| str| | true| |" in out                     # required, no default
    assert "| ZstdLevel| int| 3| false|" in out                # default + description
    assert "ZstdCompressionLevel" in out
    assert "| DiscardEmptyFiles| bool| False| false|" in out

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
    for section in ("Operators", "Inputs (TOML):", "Outputs (TOML):", "Upload:"):
        assert section in listing


def test_cli_toml_surface_matches_compiler_dispatch():
    """Every name in the compiler's component tables — the dicts `list`
    and `help` render — compiles with a minimal config, and an unknown
    name's error lists the table's names."""
    from baker_spark.plans.toml_compiler import (
        BATCH_INPUTS,
        SINKS,
        STREAMING_INPUTS,
        _build_input,
        _build_sink,
        _build_streaming_input,
    )

    # minimal configs satisfy each component's required keys
    sink_cfg = {"DynamoDB": {"Table": "t", "Columns": ["s:c"]}}
    for n in SINKS:
        _build_sink({"name": n, "config": sink_cfg.get(n, {})}, ",")
    for n in BATCH_INPUTS:
        _build_input({"name": n, "config": {}}, ["a"], ",")
    stream_cfg = {
        "SQS": {"FakeDir": "/tmp/queue"},
        "Kinesis": {"Stream": "s"},
        "KCL": {"Stream": "s", "AppName": "app"},
        "TCP": {"SpoolDir": "/tmp/spool"},
    }
    for n in STREAMING_INPUTS:
        _build_streaming_input({"name": n, "config": stream_cfg[n]}, ["a"], ",")

    with pytest.raises(ValueError, match="unknown output 'NoSuchOutput'") as exc:
        _build_sink({"name": "NoSuchOutput"}, ",")
    assert all(n in str(exc.value) for n in SINKS)
    with pytest.raises(ValueError, match="unknown input 'NoSuchInput'") as exc:
        _build_input({"name": "NoSuchInput"}, ["a"], ",")
    assert all(n in str(exc.value) for n in (*BATCH_INPUTS, *STREAMING_INPUTS))
