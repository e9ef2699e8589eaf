"""End-to-end TOML topology tests, mirroring the reference's golden e2e
suite (e2e_test.go:20-86): run a TOML topology over the 4-row ``logs3``
zstd fixture in tests/fixtures/ (written by make_fixtures.py, FIXTURES.md
§1) and compare produced records. Comparison is order-insensitive (the
reference doesn't guarantee global order with procs>1 either,
config.go:47-53)."""

import gzip
import json
import os

import pytest

from baker_spark.plans import compile_toml
from tests.conftest import FIXTURES

# same topology as the reference's testdata/advanced_csv_example.toml
ADVANCED_TOML = """
[fields]
names=["timestamp","source","target"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[[filter]]
name="ClauseFilter"

    [filter.config]
    Clause=\"\"\"(or (timestamp value5) (target value6))\"\"\"

[output]
name="FileWriter"
procs=1

    [output.config]
    PathString="{out}/csv.gz"
"""


def _read_gz_dir(path):
    lines = []
    for name in os.listdir(path):
        if name.endswith(".csv.gz"):
            with gzip.open(os.path.join(path, name), "rt") as fh:
                lines.extend(line.rstrip("\n") for line in fh if line.strip())
    return sorted(lines)


def test_advanced_csv_topology(spark, tmp_path):
    pipeline = compile_toml(ADVANCED_TOML.format(out=tmp_path, fixtures=FIXTURES))
    out_dir = pipeline.run(spark)
    # reference golden (advanced_csv.golden): the two rows matching the clause
    assert _read_gz_dir(out_dir) == [
        "value4,value2,value6",
        "value5,value2,value3",
    ]


def test_validation_topology(spark, tmp_path):
    toml_text = """
[fields]
names=["timestamp","source","target"]

[validation]
timestamp="^value[0-9]+$"
target="^value3$"

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/validated.csv.gz"
""".format(out=tmp_path, fixtures=FIXTURES)
    pipeline = compile_toml(toml_text)
    out_dir = pipeline.run(spark)
    assert _read_gz_dir(out_dir) == [
        "value1,value2,value3",
        "value1,value2,value3",
        "value5,value2,value3",
    ]


def test_field_projection_and_sharding(spark, tmp_path):
    toml_text = """
[fields]
names=["timestamp","source","target"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[output]
name="FileWriter"
fields=["target","source"]
sharding="target"
procs=2

    [output.config]
    PathString="{out}/sharded.csv.gz"
""".format(out=tmp_path, fixtures=FIXTURES)
    out_dir = compile_toml(toml_text).run(spark)
    assert _read_gz_dir(out_dir) == sorted(
        ["value3,value2", "value3,value2", "value6,value2", "value3,value2"]
    )


def test_separator_0x1e(spark, tmp_path):
    # the reference's testdata/advanced_csv_example_0x1e.toml
    toml_text = """
[csv]
field_separator="\\u001e"

[fields]
names=["timestamp","source","target"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.0x1e.zst"]

[[filter]]
name="ClauseFilter"

    [filter.config]
    Clause=\"\"\"(or (timestamp value5) (target value6))\"\"\"

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/0x1e.csv.gz"
""".format(out=tmp_path, fixtures=FIXTURES)
    out_dir = compile_toml(toml_text).run(spark)
    sep = "\x1e"
    assert _read_gz_dir(out_dir) == sorted(
        [sep.join(["value4", "value2", "value6"]), sep.join(["value5", "value2", "value3"])]
    )


def test_env_var_expansion(spark, tmp_path):
    os.environ["BAKER_TEST_INPUT"] = f"{FIXTURES}/input.csv.zst"
    toml_text = """
[fields]
names=["timestamp","source","target"]
[input]
name="List"
    [input.config]
    files=["${BAKER_TEST_INPUT}"]
[output]
name="Recorder"
"""
    pipeline = compile_toml(toml_text)
    records = pipeline.run(spark)
    assert len(records) == 4


def test_bad_operator_config_rejected(spark):
    import pytest
    from baker_spark.operators import create

    with pytest.raises(ValueError, match="valid keys"):
        create("StringMatch", Field="f1", Strings=["x"], NoSuchKey=1)


def test_dynamodb_sink_from_toml():
    from baker_spark.plans import compile_toml
    from baker_spark.sinks.dynamodb import DynamoDBWriter

    p = compile_toml(
        """
[fields]
name_list=["k","v"]
names=["k","v"]
[input]
name="List"
[input.config]
files=[]
[output]
name="DynamoDB"
[output.config]
Table="t"
Columns=["s:k", "n:v"]
Regions=["us-east-1"]
MaxWritesPerSec=100
MaxBackoff="30s"
"""
    )
    assert isinstance(p.sink, DynamoDBWriter)
    assert p.sink.table == "t" and p.sink.regions == ["us-east-1"]
    assert p.sink.max_writes_per_sec == 100
    assert p.sink.max_backoff == 30.0


def test_upload_stage_from_toml(spark, tmp_path):
    from baker_spark.plans import compile_toml

    toml_text = f"""
[fields]
names=["source","value","target"]
[input]
name="List"
[input.config]
files=["{FIXTURES}/input.csv.zst"]
[output]
name="FileWriter"
[output.config]
PathString="{tmp_path}/staged/out.csv.gz"
[upload]
name="S3"
[upload.config]
SourceBasePath="{tmp_path}/staged"
Bucket="bkt"
Prefix="pre"
"""
    pipeline = compile_toml(toml_text)
    sent = []
    pipeline.upload.upload_fn = lambda path, bucket, key: sent.append((bucket, key))
    pipeline.run(spark)
    assert sent and all(b == "bkt" and k.startswith("pre/") for b, k in sent)


def test_jsonlines_source(spark, tmp_path):
    import gzip as _gzip

    from baker_spark.plans import compile_toml

    p = tmp_path / "docs.jsonl.gz"
    with _gzip.open(p, "wt") as fh:
        fh.write('{"id": "1", "text": "hello world", "junk": 9}\n')
        fh.write('{"id": "2", "text": "drop me"}\n')
    toml_text = f"""
[fields]
names=["id","text"]
[input]
name="JsonLines"
[input.config]
files=["{p}"]
[[filter]]
name="StringMatch"
[filter.config]
Field="text"
Strings=["drop me"]
[output]
name="Recorder"
"""
    records = compile_toml(toml_text).run(spark)
    assert [tuple(r) for r in records] == [("1", "hello world")]


def test_parquet_source(spark, tmp_path):
    from baker_spark.plans import compile_toml

    toml_text = """
[input]
name="Parquet"
[input.config]
files=["/root/testdata/sf0.001/region.parquet"]
[output]
name="Recorder"
"""
    records = compile_toml(toml_text).run(spark)
    assert len(records) == 5  # region has 5 rows at every SF


def test_unknown_components_rejected():
    import pytest as _pytest

    from baker_spark.plans import compile_toml

    base = """
[fields]
names=["a"]
[input]
name="%s"
[input.config]
files=[]
"""
    with _pytest.raises(ValueError, match="unknown input"):
        compile_toml(base % "NoSuchInput")
    with _pytest.raises(ValueError, match="unknown output"):
        compile_toml(base % "List" + '[output]\nname="NoSuchOutput"\n')
    with _pytest.raises(ValueError, match="unknown upload"):
        compile_toml(base % "List" + '[upload]\nname="NoSuchUpload"\n[upload.config]\nBucket="b"\n')
    with _pytest.raises(ValueError, match="duplicate"):
        compile_toml('[fields]\nnames=["a","a"]\n[input]\nname="List"\n[input.config]\nfiles=[]\n')


def test_dont_validate_fields(spark):
    from baker_spark.plans import compile_toml
    from baker_spark.operators.topology import Validation

    base = """
[fields]
names=["a","b"]
%s
[validation]
a="^[0-9]+$"
[input]
name="List"
[input.config]
files=[]
"""
    assert any(isinstance(o, Validation) for o in compile_toml(base % "").ops)
    skipped = compile_toml(base % "[general]\ndont_validate_fields=true\n")
    assert not any(isinstance(o, Validation) for o in skipped.ops)


def test_filewriter_time_template_topology(spark, tmp_path):
    """A reference-style time-templated PathString produces the
    partitioned year=/month=/day= tree: the Spark mapping of
    filewriter.go's evaluate-template-per-rotation, driven by event time
    so reruns/backfills land deterministically (TimestampField is the
    engine's extension; omit it for the reference's wall-clock)."""
    src = tmp_path / "in.csv"
    src.write_text(
        "2024-03-01 10:00:00,click,u1\n"
        "2024-03-02 11:00:00,view,u2\n"
        "2024-03-02 12:00:00,click,u3\n"
    )
    toml_text = f"""
[fields]
names=["ts","etype","user"]

[input]
name="List"

    [input.config]
    files=["{src}"]

[output]
name="FileWriter"
fields=["ts","etype","user"]

    [output.config]
    PathString="{tmp_path}/logs/{{{{.Year}}}}/{{{{.Month}}}}/{{{{.Day}}}}/out-{{{{.Index}}}}.log.gz"
    TimestampField="ts"
"""
    pipeline = compile_toml(toml_text)
    out_dir = pipeline.run(spark)
    assert out_dir == f"{tmp_path}/logs"
    day_dirs = set()
    for root, _dirs, files in os.walk(out_dir):
        if any(f.endswith(".csv.gz") for f in files):
            day_dirs.add(os.path.relpath(root, out_dir))
    assert day_dirs == {"year=2024/month=03/day=01", "year=2024/month=03/day=02"}
    # the gzip parts carry the non-partition record fields
    rows = _read_gz_dir(os.path.join(out_dir, "year=2024/month=03/day=02"))
    assert sorted(r.split(",")[2] for r in rows) == ["u2", "u3"]


def test_user_config_sections():
    """[[user]] blocks decode into registered UserDescs in place, matched
    case-insensitively; unregistered names and unknown keys are rejected
    (reference config.go:387-399, user_config_test.go)."""
    import pytest as _pytest

    from baker_spark.plans import UserDesc, compile_toml

    base = """
[fields]
names=["f0","f1"]
[input]
name="List"
[input.config]
files=[]
"""
    user_toml = base + """
[[user]]
name="MyConfiG"
    [user.config]
    field1 = 1
    field2 = "hello!"

[[user]]
name="configB"
    [user.config]
    field1 = ["a", "b", "c", "d"]
"""

    class MyConfig:
        def __init__(self):
            self.field1 = 0
            self.field2 = ""

    mycfg = MyConfig()
    cfgb = {}
    compile_toml(
        user_toml,
        user=[UserDesc("myconfig", mycfg), UserDesc("ConfigB", cfgb)],
    )
    assert (mycfg.field1, mycfg.field2) == (1, "hello!")
    assert cfgb == {"field1": ["a", "b", "c", "d"]}

    # unregistered [[user]] name -> error (TestUserConfigExtraConfigInTOML)
    with _pytest.raises(ValueError, match="user configuration does not exist"):
        compile_toml(user_toml, user=[UserDesc("myconfig", MyConfig())])

    # unknown key inside a registered section -> error (Undecoded check)
    bad = base + """
[[user]]
name="myconfig"
    [user.config]
    nosuchfield = 3
"""
    with _pytest.raises(ValueError, match="invalid keys"):
        compile_toml(bad, user=[UserDesc("myconfig", MyConfig())])


def test_parse_size_bytes():
    """SizeBytes TOML decoding (reference size_bytes.go:10-43 +
    go-humanize units)."""
    import pytest as _pytest

    from baker_spark.sinks.filewriter import parse_size_bytes

    assert parse_size_bytes(12000) == 12000
    assert parse_size_bytes("12KB") == 12_000
    assert parse_size_bytes("1MiB") == 2**20
    assert parse_size_bytes("128MB") == 128_000_000
    assert parse_size_bytes("2.5gb") == 2_500_000_000
    assert parse_size_bytes("") == 0
    for bad in (-1, "12XB", "abc", True):
        with _pytest.raises(ValueError):
            parse_size_bytes(bad)


def test_filewriter_rotate_size(spark, tmp_path):
    """RotateSize triggers file rotation: a tiny size must split the
    4-row fixture across multiple part files (the reference rotates when
    the compressed file reaches RotateSize, filewriter.go:361-362; here
    the sampled compressed-bytes/record estimate drives
    maxRecordsPerFile)."""
    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/rotated.csv.gz"
    RotateSize="1"
""".format(out=tmp_path, fixtures=FIXTURES)
    out_dir = compile_toml(toml_text).run(spark)
    parts = [
        os.path.join(r, f)
        for r, _, fs in os.walk(out_dir)
        for f in fs
        if f.endswith(".csv.gz")
    ]
    assert len(parts) > 1  # rotation happened
    rows = []
    for p in parts:
        with gzip.open(p, "rt") as fh:
            rows += [ln for ln in fh.read().splitlines() if ln]
    assert len(rows) == 4  # nothing lost across rotations


FILTERCHAIN_TOML = """
[fields]
names=["a","b","ts"]

[validation]
a="^value[0-9]+$"

[input]
name="List"

    [input.config]
    files=["{path}"]

[filterchain]
procs=8
{filters}
[output]
name="Recorder"
"""

STRING_MATCH = """
[[filter]]
name="StringMatch"

    [filter.config]
    Field="a"
    Strings=["value4"]
"""


def _chain_input(tmp_path):
    """One gzip CSV file: a single split, narrower than procs=8."""
    path = tmp_path / "in.csv.gz"
    with gzip.open(path, "wt") as fh:
        fh.write(
            "value1,v1,1500\n"
            "value4,v2,1600\n"  # StringMatch drops
            "value5,x3,1700\n"  # RegexMatch drops
            "junk,v4,1800\n"  # Validation drops
            "value6,v5,abc\n"  # TimestampRange drops: not an integer
            "value7,v6,500\n"  # TimestampRange drops: before the start
            "value8,v7,2000\n"
        )
    return path


def test_filterchain_procs(spark, tmp_path):
    """[filterchain] procs=N (config.go:46-52) widens a narrow scan to N
    partitions and runs the whole chain after it; Catalyst pushes every
    predicate of the chain, [validation] included, below the exchange, so
    the exchange carries survivors only; results are unchanged. A
    CountAndTag still sees the rows that reach it in the chain."""
    filters = STRING_MATCH + """
[[filter]]
name="RegexMatch"

    [filter.config]
    Fields=["b"]
    Regexs=["^v"]

[[filter]]
name="TimestampRange"

    [filter.config]
    Field="ts"
    StartDatetime="1970-01-01 00:16:40"
"""
    p = compile_toml(FILTERCHAIN_TOML.format(path=_chain_input(tmp_path), filters=filters))
    assert p.chain_procs == 8
    df = p.dataframe(spark)
    assert df.rdd.getNumPartitions() == 8
    plan = df._jdf.queryExecution().executedPlan().toString()
    above, exchange, below = plan.partition("Exchange RoundRobinPartitioning(8)")
    assert exchange and "Filter" not in above
    # Validation, StringMatch, RegexMatch and TimestampRange, in that order
    for marker in ("^value[0-9]+$", "value4", "^v)", "1000"):
        assert marker in below, marker
    assert sorted(r["a"] for r in p.run(spark)) == ["value1", "value8"]

    # a CountAndTag before a filter counts every row that reaches it (the
    # six that pass validation), not the filter's survivors
    filters = """
[[filter]]
name="CountAndTag"

    [filter.config]
    Metric="seen"
    Field="a"
""" + STRING_MATCH
    p = compile_toml(FILTERCHAIN_TOML.format(path=_chain_input(tmp_path), filters=filters))
    assert len(p.run(spark)) == 5
    (tag,) = [op for op in p.ops if op.name == "CountAndTag"]
    assert tag.metric_value()["count"] == 6


@pytest.mark.parametrize("procs", [None, 8], ids=["no_filterchain", "procs_8"])
def test_clausefilter_unknown_field_fails_alike(spark, procs):
    """An unknown ClauseFilter field raises the same KeyError whether or
    not [filterchain] widens the scan."""
    filterchain = f"[filterchain]\nprocs={procs}\n" if procs else ""
    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

{filterchain}
[[filter]]
name="ClauseFilter"

    [filter.config]
    Clause="(nosuch value1)"

[output]
name="Recorder"
""".format(fixtures=FIXTURES, filterchain=filterchain)
    with pytest.raises(KeyError, match="no such field: nosuch"):
        compile_toml(toml_text).dataframe(spark)


def test_filewriter_discard_empty_files(spark, tmp_path):
    """DiscardEmptyFiles (filewriter.go:97,273): zero-record part files
    are removed after the write; with records present nothing is lost."""
    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[[filter]]
name="StringMatch"

    [filter.config]
    Field="a"
    Strings=["no-such-value"]
    InvertMatch=true

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/maybe_empty.csv.gz"
    DiscardEmptyFiles=true
""".format(out=tmp_path, fixtures=FIXTURES)
    out_dir = compile_toml(toml_text).run(spark)
    parts = [
        f for r, _, fs in os.walk(out_dir) for f in fs if f.startswith("part-")
    ]
    assert parts == []  # everything filtered -> no empty gz left behind


def test_sqlite_options_from_toml(spark, tmp_path):
    """SQLite config keys (output/sqlite.go:36-43): PreRun/PostRun SQL,
    Clear truncation, PageSize pragma, SQLiteRaw's BLOB-ish record
    column — compiled from TOML and observable in the produced file."""
    import sqlite3

    db = tmp_path / "out.sqlite3"
    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["%s/input.csv.zst"]

[output]
name="SQLiteRaw"

    [output.config]
    PathString="%s"
    TableName="recs"
    PreRun=["PRAGMA user_version=7"]
    PostRun=["CREATE INDEX IF NOT EXISTS idx_a ON recs(a)"]
    Clear=true
    PageSize=8192
""" % (FIXTURES, db)
    p = compile_toml(toml_text)
    p.run(spark)
    p.run(spark)  # Clear=true -> second run truncates, no duplication
    conn = sqlite3.connect(db)
    assert conn.execute("SELECT count(*) FROM recs").fetchone()[0] == 4
    assert conn.execute("PRAGMA user_version").fetchone()[0] == 7
    assert conn.execute("PRAGMA page_size").fetchone()[0] == 8192
    idx = [r[1] for r in conn.execute("PRAGMA index_list(recs)")]
    assert "idx_a" in idx
    rec = conn.execute("SELECT _record FROM recs LIMIT 1").fetchone()[0]
    assert rec.count(",") == 2  # serialized full record rides along
    conn.close()


def test_filewriter_zstd_output(spark, tmp_path):
    """A .zst PathString engages the compiled zstd codec
    (filewriter.go:257: zstd iff the path ends .zst/.zstd; level default
    3 per filewriter.go:98): parts come out as standard zstd frames with
    the same records the gzip path would carry."""
    import pyarrow as pa

    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/out.csv.zst"
""".format(out=tmp_path, fixtures=FIXTURES)
    out_dir = compile_toml(toml_text).run(spark)
    parts = [
        os.path.join(r, f)
        for r, _, fs in os.walk(out_dir)
        for f in fs
        if f.endswith(".csv.zst")
    ]
    assert parts, "no .csv.zst parts written"
    rows = []
    for p in parts:
        with pa.input_stream(p, compression="zstd") as s:  # plain zstd frame
            rows += [ln for ln in s.read().decode().splitlines() if ln]
    assert sorted(rows) == [
        "value1,value2,value3",
        "value1,value2,value3",
        "value4,value2,value6",
        "value5,value2,value3",
    ]


def test_filewriter_zstd_discard_empty_and_rotate(spark, tmp_path):
    """The zstd path supports the same RotateSize estimation (pyarrow
    zstd models the codec's output) and DiscardEmptyFiles (JVM-side
    ZstdInputStream probe) as gzip."""
    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[[filter]]
name="StringMatch"

    [filter.config]
    Field="a"
    Strings=["no-such-value"]
    InvertMatch=true

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/maybe_empty.csv.zst"
    RotateSize="1"
    DiscardEmptyFiles=true
    ZstdCompressionLevel=1
""".format(out=tmp_path, fixtures=FIXTURES)
    out_dir = compile_toml(toml_text).run(spark)
    parts = [
        f for r, _, fs in os.walk(out_dir) for f in fs if f.startswith("part-")
    ]
    assert parts == []  # everything filtered -> no empty zst left behind


def test_zstd_writer_reader_roundtrip(spark, tmp_path):
    """Our writer's .zst output is consumable by our own List input —
    the staged-pipeline pattern (topology A rotates .zst files, topology
    B ingests them), matching the reference where FileWriter's zstd
    output feeds a later baker run's List (filewriter.go:257 +
    list.go's zstd auto-decompress)."""
    write_toml = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/stage1.csv.zst"
""".format(out=tmp_path, fixtures=FIXTURES)
    out_dir = compile_toml(write_toml).run(spark)
    parts = sorted(
        os.path.join(r, f)
        for r, _, fs in os.walk(out_dir)
        for f in fs
        if f.endswith(".csv.zst")
    )
    read_toml = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files={files}

[output]
name="Recorder"
""".format(files=json.dumps(parts))
    rows = compile_toml(read_toml).run(spark)
    assert sorted((r["a"], r["b"], r["c"]) for r in rows) == [
        ("value1", "value2", "value3"),
        ("value1", "value2", "value3"),
        ("value4", "value2", "value6"),
        ("value5", "value2", "value3"),
    ]


def test_zstd_level_is_per_job_not_session_global(spark, tmp_path):
    """Two FileWriters with different zstd_level in one session must not
    race on a session-global Hadoop key: the level rides each write as a
    file-source option (overlaid onto that JOB's Hadoop conf), so the
    session-wide configuration is never mutated and each file honors its
    own level."""
    import pyarrow as pa

    from baker_spark.sinks.filewriter import FileWriter

    # compressible but non-trivial payload so level 1 vs 19 sizes differ
    df = spark.range(4000).selectExpr(
        "concat_ws(',', cast(id as string), repeat(concat('w', cast(id % 97 as string), ' '), 40)) AS line"
    ).select("line")
    w_fast = FileWriter(path=str(tmp_path / "fast.csv.zst.d"), zstd_level=1)
    w_best = FileWriter(path=str(tmp_path / "best.csv.zst.d"), zstd_level=19)
    w_fast.write(df)
    w_best.write(df)
    # the session-global conf was never touched
    assert spark._jsc.hadoopConfiguration().get("bakerspark.zstd.level") is None

    def _read(d):
        names, total = [], 0
        for r, _, fs in os.walk(d):
            for f in fs:
                if f.endswith(".csv.zst"):
                    p = os.path.join(r, f)
                    total += os.path.getsize(p)
                    with pa.input_stream(p, compression="zstd") as s:
                        names += [ln for ln in s.read().decode().splitlines() if ln]
        return sorted(names), total

    rows_fast, size_fast = _read(tmp_path / "fast.csv.zst.d")
    rows_best, size_best = _read(tmp_path / "best.csv.zst.d")
    assert rows_fast == rows_best and len(rows_fast) == 4000
    assert size_best < size_fast  # level 19 actually applied to its own job


def test_gzip_level_is_per_job_and_defaults_to_bestspeed(spark, tmp_path):
    """The reference hardcodes gzip BestSpeed (filewriter.go:392-394);
    FileWriter's gzip_level default must match, ride each write as a
    per-job option (never the session-global conf), and actually reach
    the deflater — level 9 files must come out smaller than level 1."""
    import gzip as _gzip

    import pytest

    from baker_spark.sinks.filewriter import FileWriter

    df = spark.range(4000).selectExpr(
        "concat_ws(',', cast(id as string), repeat(concat('w', cast(id % 97 as string), ' '), 40)) AS line"
    ).select("line")
    w_fast = FileWriter(path=str(tmp_path / "fast.csv.gz.d"))  # default = 1
    w_best = FileWriter(path=str(tmp_path / "best.csv.gz.d"), gzip_level=9)
    assert w_fast.gzip_level == 1
    w_fast.write(df)
    w_best.write(df)
    assert spark._jsc.hadoopConfiguration().get("zlib.compress.level") is None

    def _read(d):
        names, total = [], 0
        for r, _, fs in os.walk(d):
            for f in fs:
                if f.endswith(".csv.gz"):
                    p = os.path.join(r, f)
                    total += os.path.getsize(p)
                    with _gzip.open(p, "rt") as s:
                        names += [ln for ln in s.read().splitlines() if ln]
        return sorted(names), total

    rows_fast, size_fast = _read(tmp_path / "fast.csv.gz.d")
    rows_best, size_best = _read(tmp_path / "best.csv.gz.d")
    assert rows_fast == rows_best and len(rows_fast) == 4000
    assert size_best < size_fast  # level 9 actually applied to its own job
    with pytest.raises(ValueError, match="gzip_level"):
        FileWriter(path=str(tmp_path / "bad.csv.gz.d"), gzip_level=10)


def test_zstd_codec_finish_ends_frame_without_closing_stream(spark):
    """Hadoop's CompressionOutputStream.finish() contract: write the
    stream trailer but keep the underlying stream open. After finish()
    the bytes so far must parse as a COMPLETE zstd frame (a consumer
    holding the stream open can hand off the payload), and a later
    write()+close() appends a second frame the multi-frame reader
    concatenates."""
    import pyarrow as pa

    jvm = spark._jvm
    codec = jvm.bakerspark.ZstdJniCodec()
    codec.setConf(spark._jsc.hadoopConfiguration())
    baos = jvm.java.io.ByteArrayOutputStream()
    cos = codec.createOutputStream(baos)
    first = b"alpha beta gamma\n" * 50
    cos.write(first, 0, len(first))
    cos.finish()
    cos.flush()  # inner stream must still be open and flushable
    frame1 = bytes(baos.toByteArray())
    with pa.input_stream(pa.BufferReader(frame1), compression="zstd") as s:
        assert s.read() == first  # complete frame at finish() time
    second = b"delta epsilon\n" * 50
    cos.write(second, 0, len(second))
    cos.close()
    both = bytes(baos.toByteArray())
    # read both frames back through the codec's own multi-frame reader
    bais = jvm.java.io.ByteArrayInputStream(both)
    cis = codec.createInputStream(bais)
    out = bytearray()
    while True:
        b = cis.read()
        if b < 0:
            break
        out.append(b)
    assert bytes(out) == first + second


def test_filewriter_zstd_window_log(spark, tmp_path):
    """ZstdWindowLog (filewriter.go:99; the reference's published bench
    runs level 3 + windowLog 27, README.md:114) rides the TOML through
    to long-distance-matching zstd frames — and the codec's read path
    accepts them back (setLongMax: the '>27 needs special treatment'
    from the reference's help text)."""
    import pyarrow as pa

    toml_text = """
[fields]
names=["a","b","c"]

[input]
name="List"

    [input.config]
    files=["{fixtures}/input.csv.zst"]

[output]
name="FileWriter"

    [output.config]
    PathString="{out}/out.csv.zst"
    ZstdWindowLog=27
""".format(out=tmp_path, fixtures=FIXTURES)
    plan = compile_toml(toml_text)
    assert plan.sink.zstd_window_log == 27
    out_dir = plan.run(spark)
    parts = [
        os.path.join(r, f)
        for r, _, fs in os.walk(out_dir)
        for f in fs
        if f.endswith(".csv.zst")
    ]
    assert parts
    rows = []
    for p in parts:
        with pa.input_stream(p, compression="zstd") as s:
            rows += [ln for ln in s.read().decode().splitlines() if ln]
    assert sorted(rows) == [
        "value1,value2,value3",
        "value1,value2,value3",
        "value4,value2,value6",
        "value5,value2,value3",
    ]
    # and Spark's own read path (the codec input stream) accepts the
    # long-range frames
    back = spark.read.text(parts).count()
    assert back == 4


def test_templated_zst_pathstring_compiles_to_zstd():
    """A time-templated PathString ending in .zst must compile to zstd:
    the template parser hands FileWriter only the pre-placeholder base
    DIRECTORY, which never carries the extension, so leaving detection
    to __post_init__ silently produced gzip where the config demanded
    zstd (filewriter.go:257 extension rule)."""
    toml = """
[fields]
names = ["a", "b"]

[input]
name = "List"
[input.config]
files = ["/dev/null"]

[output]
name = "FileWriter"
procs = 1
fields = ["a", "b"]
[output.config]
pathstring = "/tmp/zt/{{.Year}}/{{.Month}}/log-{{.Index}}.zst"
"""
    pipe = compile_toml(toml)
    assert pipe.sink.compression == "zstd"
    assert pipe.sink.time_partitions == ["Year", "Month"]


def test_stats_fields_come_from_topology_level_output_fields():
    """stats.go:258 iterates the topology-level [output] fields list for
    the per-field frequency sections — reading them from [output.config]
    left a reference TOML's report sections silently empty."""
    toml = """
[fields]
names = ["a", "b", "c"]

[input]
name = "List"
[input.config]
files = ["/dev/null"]

[output]
name = "Stats"
procs = 1
fields = ["a", "b"]
"""
    pipe = compile_toml(toml)
    assert pipe.sink.fields == ["a", "b"]


def test_llm_pipeline_filters_from_toml(spark, tmp_path):
    """VERDICT r11 next-round #6: the corpus-cleaning example driven
    end-to-end from config — Parquet documents in, GopherQuality +
    C4Clean + NearDupDrop from [[filter]] blocks, Recorder out — over a
    crafted corpus with known pass/fail/near-dup docs (the driver's
    synthetic documents fail the Gopher stop-word rule wholesale, which
    would make this an empty-set equality)."""
    from baker_spark.plans import compile_toml

    stop = "the be to of and that have with"
    # 48 filler words + 8 stopwords = pass word count; three '.'-ended
    # lines of >= 3 words = pass the C4 line + sentence rules
    good_line = ("data " * 15 + stop + " sort.").strip()
    good = "\n".join([good_line, good_line, good_line])
    other_line = ("join " * 15 + stop + " scan.").strip()
    other = "\n".join([other_line, other_line, other_line])
    no_punct = ("row " * 20 + stop).strip()  # gopher-ok, every line C4-dropped
    braces = good + " {"  # C4 document rule: code page
    rows = [
        (1, good),       # survives
        (2, good),       # identical -> NearDupDrop loser
        (3, other),      # survives (different vocabulary)
        (4, "too short"),  # gopher: n_words < 50
        (5, no_punct),   # C4: no terminal-punct lines -> < 3 sentences
        (6, braces),     # C4: contains '{'
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string").write.parquet(src)

    toml_text = f"""
[input]
name="Parquet"
[input.config]
files=["{src}"]

[[filter]]
name="GopherQuality"
[filter.config]
Field="text"

[[filter]]
name="C4Clean"
[filter.config]
Field="text"
MinLineWords=3

[[filter]]
name="NearDupDrop"
[filter.config]
Field="text"
IdField="doc_id"

[output]
name="Recorder"
"""
    records = compile_toml(toml_text).run(spark)
    assert sorted(int(r["doc_id"]) for r in records) == [1, 3]
    # C4Clean really rewrote the field: the kept page is the
    # line-filtered text (all three lines pass, joined by newline)
    by_id = {int(r["doc_id"]): r["text"] for r in records}
    assert by_id[1] == good and by_id[3] == other


def test_r12_tier_filters_from_toml(spark, tmp_path):
    """VERDICT r12 next-round #4: the round-12 tiers driven end-to-end
    from config — UrlDedup (canonical-URL winner) + GopherRepetition
    (A1.2 battery verdict) + ExactSubstrClean (repeated-span surgery)
    as [[filter]] blocks over a crafted corpus where each tier has a
    known victim."""
    from baker_spark.plans import compile_toml

    span = "alpha beta gamma delta epsilon zeta eta theta"  # 8 tokens
    uniq1 = " ".join(f"w{i}" for i in range(20))
    uniq4 = " ".join(f"x{i}" for i in range(20))
    rep_line = "same line again here"
    rows = [
        # survives; shares the 8-token span with doc 4 -> span excised
        (1, "HTTP://Example.COM:80/a?utm_source=x&b=2&a=1#f", f"{uniq1} {span}"),
        # same canonical URL as doc 1 -> UrlDedup loser (min-id wins)
        (2, "http://example.com/a?a=1&b=2", "whatever text"),
        # unique URL but 4 identical lines -> GopherRepetition drop
        (3, "http://example.com/b", "\n".join([rep_line] * 4)),
        # survives; the other carrier of the span
        (4, "http://example.com/c", f"{uniq4} {span}"),
    ]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, url string, text string").write.parquet(src)

    toml_text = f"""
[input]
name="Parquet"
[input.config]
files=["{src}"]

[[filter]]
name="UrlDedup"
[filter.config]
UrlField="url"
IdField="doc_id"

[[filter]]
name="GopherRepetition"
[filter.config]
Field="text"

[[filter]]
name="ExactSubstrClean"
[filter.config]
Field="text"
IdField="doc_id"
K=8

[output]
name="Recorder"
"""
    records = compile_toml(toml_text).run(spark)
    by_id = {int(r["doc_id"]): r["text"] for r in records}
    assert sorted(by_id) == [1, 4]
    # ExactSubstrClean really excised the shared span, kept surroundings
    assert by_id[1] == uniq1 and by_id[4] == uniq4


def test_kn_perplexity_drop_from_toml(spark, tmp_path):
    """KnPerplexityDrop end-to-end from config: the batch's lang='en'
    slice trains the LM, a non-target doc FOLLOWING the target's
    transition pattern survives the gate, a gibberish doc and an
    unscorable single-token doc drop. Hand-computed on the pinned
    smoothing algebra: target docs mean_c2 = 40, the lookalike = 33,
    the gibberish (every w1 unseen) = 200 against MaxMeanC2 = 100."""
    from baker_spark.plans import compile_toml

    rows = [(i, "a b a b a b", "en") for i in range(1, 9)]
    rows += [(100, "a b a b", "xx"), (101, "q r q r", "xx"), (102, "a", "xx")]
    src = str(tmp_path / "docs.parquet")
    spark.createDataFrame(rows, "doc_id long, text string, lang string").write.parquet(src)

    toml_text = f"""
[input]
name="Parquet"
[input.config]
files=["{src}"]

[[filter]]
name="KnPerplexityDrop"
[filter.config]
Field="text"
IdField="doc_id"
TargetField="lang"
TargetValue="en"
MaxMeanC2=100

[output]
name="Recorder"
"""
    records = compile_toml(toml_text).run(spark)
    assert sorted(int(r["doc_id"]) for r in records) == list(range(1, 9)) + [100]


def test_gopher_quality_invert_routes_rejects(spark):
    """invert=true is the audit topology: keep exactly the docs the
    quality gate rejects (keep + reject partitions the corpus)."""
    from baker_spark.plans import compile_toml

    base = """
[input]
name="Parquet"
[input.config]
files=["/root/testdata/sf0.001/documents.parquet"]
[[filter]]
name="GopherQuality"
[filter.config]
Field="text"
%s
[output]
name="Recorder"
"""
    kept = compile_toml(base % "").run(spark)
    rejects = compile_toml(base % "Invert=true").run(spark)
    n_total = 500  # documents at sf0.001
    assert len(kept) + len(rejects) == n_total
    assert not {r["doc_id"] for r in kept} & {r["doc_id"] for r in rejects}
