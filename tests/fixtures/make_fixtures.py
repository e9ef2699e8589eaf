"""Regenerate the end-to-end fixtures, goldens and topologies in this
directory (FIXTURES.md §1-2):

    python tests/fixtures/make_fixtures.py [OUT_DIR]

OUT_DIR defaults to this file's directory. Everything is deterministic:
the ``logs3`` rows are fixed, the ``customers`` rows come from a seeded
``random.Random``, gzip headers carry no name or mtime.

- ``input.csv.zst`` and ``input.csv.0x1e.zst``: the 4-row ``logs3``
  fixture of baker's e2e suite (e2e_test.go:20-86), ``,``- and
  ``\\x1e``-separated, zstd-compressed, ``\\n``-framed, no header.
- ``customers_random.input.csv.zst``: the sharding example's
  ``customers`` schema; ``age`` has skewed duplicates and ``city`` comes
  from a pool larger than the examples' ``procs``, so a shard that split
  a key would show.
- ``*.golden``: gzip CSV computed by DuckDB over the zstd fixtures
  above, never by the engine under test.
- ``*.toml``: baker's own e2e topologies, restated (not byte copies):
  no ``[fields]`` (the caller names the fields, desc.go:18-19), relative
  ``testdata/`` inputs and ``./_out/`` outputs, ``procs=1``.
"""

import functools
import gzip
import os
import random
import sys

import duckdb
import pyarrow as pa

HERE = os.path.dirname(os.path.abspath(__file__))

LOGS3_FIELDS = ["timestamp", "source", "target"]
LOGS3_ROWS = [
    ["value1", "value2", "value3"],
    ["value1", "value2", "value3"],
    ["value4", "value2", "value6"],
    ["value5", "value2", "value3"],
]

CUSTOMERS_ROWS = 300
CUSTOMERS_SEED = 20240611
FIRST_NAMES = ["Ada", "Bo", "Cleo", "Dev", "Eli", "Fay", "Gus", "Hana", "Ivo", "Jun", "Kai", "Lea"]
LAST_NAMES = ["Abe", "Brook", "Chen", "Diaz", "Eng", "Fox", "Gray", "Hale", "Ito", "Joshi"]
STREETS = ["Oak St", "Pine Ave", "Elm Rd", "Lake Dr", "Hill Ln", "Main St", "Park Blvd"]
CITIES = [
    "Boston", "Chicago", "Denver", "Austin", "Seattle", "Portland",
    "Atlanta", "Miami", "Dallas", "Phoenix", "Detroit", "Omaha",
]

# DuckDB predicates equal to the topologies' filters: the ClauseFilter
# (or (timestamp value5) (target value6)) and the validation example's
# regexes timestamp="^value[0-9]+$", target="value3" (unanchored, as in
# examples/validation/main.go)
ADVANCED_WHERE = "timestamp = 'value5' OR target = 'value6'"
VALIDATION_WHERE = (
    "regexp_matches(timestamp, '^value[0-9]+$') AND regexp_matches(target, 'value3')"
)

TOPOLOGY_HEADER = """\
# baker's testdata/{name}
# restated from SURVEY.md §5 and §7 M0, not a byte copy; written by
# tests/fixtures/make_fixtures.py. No [fields]: the caller names the
# fields (timestamp, source, target), as desc.go:18-19 does.
"""

ADVANCED_TOML = """
[input]
name = "List"

    [input.config]
    files = ["testdata/input.csv.zst"]

[[filter]]
name = "ClauseFilter"

    [filter.config]
    Clause = "(or (timestamp value5) (target value6))"

[output]
name = "FileWriter"
procs = 1

    [output.config]
    PathString = "./_out/output.csv.gz"
"""

# the same topology over the \x1e-separated fixture
ADVANCED_0X1E_TOML = '\n[csv]\nfield_separator = "\\u001e"\n' + ADVANCED_TOML.replace(
    "input.csv.zst", "input.csv.0x1e.zst"
)

BASIC_TOML = """
[input]
name = "List"

    [input.config]
    files = ["testdata/input.csv.zst"]

[output]
name = "FileWriter"
procs = 1

    [output.config]
    PathString = "./_out/output.csv.gz"
"""

TOPOLOGIES = {
    "advanced_csv_example.toml": ADVANCED_TOML,
    "advanced_csv_example_0x1e.toml": ADVANCED_0X1E_TOML,
    "basic_example.toml": BASIC_TOML,
}


def customers_rows(n=CUSTOMERS_ROWS, seed=CUSTOMERS_SEED):
    rng = random.Random(seed)
    rows = []
    for i in range(1, n + 1):
        # exponential ages: a few dozen distinct values, heavy at the low end
        age = min(18 + int(rng.expovariate(1 / 9)), 90)
        # about 1 in 40 has no city, for the sharding example's NotNull
        city = "" if rng.random() < 0.025 else rng.choice(CITIES)
        rows.append([
            str(i),
            rng.choice(FIRST_NAMES),
            rng.choice(LAST_NAMES),
            str(age),
            f"{rng.randint(1, 999)} {rng.choice(STREETS)}",
            city,
            f"{rng.randint(0, 999999) / 100:.2f}",
        ])
    return rows


def csv_bytes(rows, sep=","):
    return "".join(sep.join(r) + "\n" for r in rows).encode()


def write_zstd(path, data):
    with pa.output_stream(path, compression="zstd") as out:
        out.write(data)


def write_gzip(path, data):
    with open(path, "wb") as fh, gzip.GzipFile(filename="", mode="wb", fileobj=fh, mtime=0) as gz:
        gz.write(data)


def duckdb_rows(path, fields, sep, where):
    columns = "{" + ", ".join(f"'{f}': 'VARCHAR'" for f in fields) + "}"
    sql = (
        f"SELECT * FROM read_csv('{path}', compression='zstd', header=false, "
        f"delim='{sep}', quote='', escape='', columns={columns}) "
        f"WHERE {where} ORDER BY ALL"
    )
    with duckdb.connect() as con:
        return [list(r) for r in con.sql(sql).fetchall()]


def main(out_dir=HERE):
    os.makedirs(out_dir, exist_ok=True)
    path = functools.partial(os.path.join, out_dir)

    write_zstd(path("input.csv.zst"), csv_bytes(LOGS3_ROWS))
    write_zstd(path("input.csv.0x1e.zst"), csv_bytes(LOGS3_ROWS, "\x1e"))
    write_zstd(path("customers_random.input.csv.zst"), csv_bytes(customers_rows()))

    goldens = [
        ("advanced_csv.golden", "input.csv.zst", ",", ADVANCED_WHERE),
        ("advanced_csv_0x1e.golden", "input.csv.0x1e.zst", "\x1e", ADVANCED_WHERE),
        ("validation.csv.gz.golden", "input.csv.zst", ",", VALIDATION_WHERE),
    ]
    for golden, fixture, sep, where in goldens:
        rows = duckdb_rows(path(fixture), LOGS3_FIELDS, sep, where)
        write_gzip(path(golden), csv_bytes(rows, sep))

    for name, body in TOPOLOGIES.items():
        with open(path(name), "w") as fh:
            fh.write(TOPOLOGY_HEADER.format(name=name) + body)


if __name__ == "__main__":
    main(*sys.argv[1:])
