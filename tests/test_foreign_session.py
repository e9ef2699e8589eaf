"""The driver's correctness harness builds its OWN SparkSession — no
baker confs. Queries must self-configure (session.configure applies the
nanos-parquet/UTC/ANSI settings at runtime). This pins that behavior in
a subprocess so a conftest session can't mask a regression."""

import os
import subprocess
import sys

SCRIPT = """
import sys
sys.path.insert(0, {repo!r})
from pyspark.sql import SparkSession
spark = (SparkSession.builder.master("local[2]")
         .config("spark.sql.shuffle.partitions", "2")
         .appName("bare").getOrCreate())
import __spark_entry__ as E
qs = E.queries()
sf = "/root/testdata/sf0.001"
assert E.entry(spark).count() > 0
for name in ["q_session_windows", "op_timestamprange", "dp_token_counts",
             "dp_pq_codes", "dp_semdedup", "dp_minhash_capped"]:
    assert qs[name](spark, sf).count() >= 0, name
# the queries self-configured the bare session: its streaming
# checkpoints now go through the pinned manager too
from baker_spark.session import RUNTIME_CONFS
key = "spark.sql.streaming.checkpointFileManagerClass"
assert spark.conf.get(key) == RUNTIME_CONFS[key], spark.conf.get(key, None)
print("FOREIGN_SESSION_OK")
"""


def test_queries_on_bare_session():
    repo = os.path.join(os.path.dirname(__file__), "..")
    proc = subprocess.run(
        [sys.executable, "-c", SCRIPT.format(repo=os.path.abspath(repo))],
        capture_output=True,
        text=True,
        timeout=240,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    assert "FOREIGN_SESSION_OK" in proc.stdout
