"""Config-compatibility proof over baker's own e2e topologies
(e2e_test.go:20-86 golden semantics, order-insensitive because procs>1
never guaranteed order in the reference either, config.go:47-53).

The reference's topologies, fixtures and goldens are restated in
tests/fixtures/ by make_fixtures.py (FIXTURES.md §1-2): the TOMLs keep
the reference's shape, and every golden is computed by DuckDB over the
in-repo fixture, never by this engine.
"""

import glob
import gzip
import os

import pytest

from baker_spark.plans import compile_toml
from tests.conftest import FIXTURES

# topologies with no [fields] section get names programmatically, like the
# reference's Components.FieldNames (desc.go:18-19)
FIELDS = ["timestamp", "source", "target"]


def _load(path, tmp_path):
    text = open(path).read()
    text = text.replace("testdata/", f"{FIXTURES}/")
    text = text.replace('"_out/', f'"{tmp_path}/out/').replace('"./_out/', f'"{tmp_path}/out/')
    return text


ALL_TOMLS = sorted(glob.glob(f"{FIXTURES}/*.toml"))


def test_reference_toml_sweep_is_not_empty():
    """The compile sweep below parametrizes over ALL_TOMLS: an empty glob
    would collect nothing and pass silently."""
    assert {os.path.basename(p) for p in ALL_TOMLS} >= {
        "advanced_csv_example.toml",
        "advanced_csv_example_0x1e.toml",
        "basic_example.toml",
    }


@pytest.mark.parametrize("path", ALL_TOMLS, ids=[os.path.basename(p) for p in ALL_TOMLS])
def test_reference_toml_compiles(path, tmp_path):
    pipeline = compile_toml(_load(path, tmp_path), fields=FIELDS)
    assert pipeline.source is not None


def _run_and_read(spark, text, tmp_path):
    compile_toml(text, fields=FIELDS).run(spark)
    rows = []
    for p in glob.glob(f"{tmp_path}/out/**/*.gz", recursive=True):
        # NOT splitlines(): python treats \x1e (the 0x1e topology's field
        # separator) as a line boundary, records are \n-framed only
        rows += [r for r in gzip.open(p, "rt").read().split("\n") if r]
    return sorted(rows)


def _golden(name):
    # the reference's goldens are the gzip files themselves (diffed
    # byte-wise in e2e_test.go; we compare decompressed, order-free)
    return sorted(r for r in gzip.open(f"{FIXTURES}/{name}", "rt").read().split("\n") if r)


def test_advanced_csv_example_runs(spark, tmp_path):
    """The reference's own e2e topology vs its golden
    (e2e_test.go:37-41): ClauseFilter keeps rows where timestamp=value5
    or target=value6."""
    text = _load(f"{FIXTURES}/advanced_csv_example.toml", tmp_path)
    rows = _run_and_read(spark, text, tmp_path)
    assert rows == _golden("advanced_csv.golden")


def test_advanced_csv_example_0x1e_runs(spark, tmp_path):
    """Same topology over the \\u001e-separated fixture ([csv]
    field_separator, config.go:115-121) vs its golden."""
    text = _load(f"{FIXTURES}/advanced_csv_example_0x1e.toml", tmp_path)
    rows = _run_and_read(spark, text, tmp_path)
    assert rows == _golden("advanced_csv_0x1e.golden")


def test_basic_example_runs(spark, tmp_path):
    """No-filter passthrough topology writes every input record."""
    text = _load(f"{FIXTURES}/basic_example.toml", tmp_path)
    rows = _run_and_read(spark, text, tmp_path)
    assert len(rows) == 4  # input.csv.zst fixture rows


def test_validation_example_matches_reference_golden(spark, tmp_path):
    """The reference's validation e2e (examples/validation/main.go inline
    TOML) against its golden (validation.csv.gz.golden, computed by
    DuckDB): regexes keep exactly the rows the reference kept."""
    toml_text = f"""
[fields]
names=["timestamp", "source", "target"]

[validation]
timestamp="^value[0-9]+$"
target="value3"

[input]
name = "List"

[input.config]
files=["{FIXTURES}/input.csv.zst"]

[output]
name = "FileWriter"
procs=1

[output.config]
PathString="{tmp_path}/out/output.csv.gz"
"""
    rows = _run_and_read(spark, toml_text, tmp_path)
    assert rows == _golden("validation.csv.gz.golden")


def test_sharding_example_on_reference_fixture(spark, tmp_path):
    """The reference's sharding example (examples/sharding/main.go:
    customer records sharded by age across 10 procs): same age must
    never appear in two different output files — the shard%procs pinning
    guarantee (topology.go:341-347) over the ``customers`` fixture."""
    toml_text = f"""
[fields]
names=["id", "first_name", "last_name", "age", "street", "city", "dollar"]

[input]
name="List"

[input.config]
files=["{FIXTURES}/customers_random.input.csv.zst"]

[output]
name="FileWriter"
sharding="age"
procs=10

[output.config]
PathString="{tmp_path}/out/shard.csv.gz"
"""
    compile_toml(toml_text).run(spark)
    age_to_files: dict[str, set] = {}
    n_rows = 0
    for p in glob.glob(f"{tmp_path}/out/**/*.gz", recursive=True):
        for line in gzip.open(p, "rt"):
            if not line.strip():
                continue
            n_rows += 1
            age = line.split(",")[3]
            age_to_files.setdefault(age, set()).add(p)
    assert n_rows > 0
    assert all(len(files) == 1 for files in age_to_files.values())


def test_fixtures_match_generator(tmp_path):
    """The committed fixtures, goldens and topologies are exactly what
    make_fixtures.py writes (compared decompressed, so a newer zstd or
    gzip build that frames the same bytes differently still passes)."""
    import importlib.util

    import pyarrow as pa

    spec = importlib.util.spec_from_file_location("make_fixtures", f"{FIXTURES}/make_fixtures.py")
    make_fixtures = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(make_fixtures)
    make_fixtures.main(str(tmp_path))

    def content(path):
        if path.endswith(".zst"):
            with pa.input_stream(path, compression="zstd") as s:
                return s.read()
        if path.endswith(".golden"):
            return gzip.open(path).read()
        return open(path, "rb").read()

    generated = sorted(os.listdir(tmp_path))
    committed = sorted(
        f for f in os.listdir(FIXTURES) if os.path.isfile(f"{FIXTURES}/{f}") and f != "make_fixtures.py"
    )
    assert generated == committed
    for name in generated:
        assert content(f"{tmp_path}/{name}") == content(f"{FIXTURES}/{name}"), name
