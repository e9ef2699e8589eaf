import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from baker_spark.session import get_spark  # noqa: E402

SF_DIR = os.environ.get("BAKER_SPARK_TEST_SF_DIR", "/root/testdata/sf0.001")
SF_DIR_ORACLE = os.environ.get("BAKER_SPARK_ORACLE_SF_DIR", "/root/testdata/sf0.01")
# the e2e fixtures, goldens and topologies (tests/fixtures/make_fixtures.py)
FIXTURES = os.path.join(os.path.dirname(os.path.abspath(__file__)), "fixtures")

# Dummy AWS creds for the moto wire-level tests (test_moto_aws.py):
# boto3 clients sign every request, including ones aimed at a local
# moto server — and the signing happens in executor PYTHON WORKERS,
# which inherit the JVM's env, which inherits THIS process's env at
# SparkSession creation. Set before any spark fixture materializes.
# Opt-in LIVE runs (test_live_aws.py) provide real creds explicitly;
# don't shadow ambient credential providers there.
if os.environ.get("BAKER_SPARK_LIVE_AWS") != "1":
    os.environ.setdefault("AWS_ACCESS_KEY_ID", "testing")
    os.environ.setdefault("AWS_SECRET_ACCESS_KEY", "testing")
    os.environ.setdefault("AWS_SECURITY_TOKEN", "testing")
    os.environ.setdefault("AWS_SESSION_TOKEN", "testing")


@pytest.fixture(scope="session")
def spark():
    os.environ.setdefault("SPARK_GRAFT_CPUS", "4")
    spark = get_spark("baker_spark_tests", cpus=4)
    yield spark
    spark.stop()


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def rows_to_tuples(df):
    return sorted(tuple(r) for r in df.collect())
