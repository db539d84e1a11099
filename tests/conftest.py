import os
import re
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from metrique_spark.session import get_spark

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def pytest_configure(config):
    config.addinivalue_line(
        "markers",
        "oracle: full Spark-vs-DuckDB parity sweep over every queries() "
        "entry (needs duckdb + driver testdata)")
    config.addinivalue_line(
        "markers",
        "slow: long-running fuzz/model tests (storage-layer op-sequence "
        "model check)")
    config.addinivalue_line(
        "markers",
        "oracle_sf01: full parity sweep at sf0.01 (opt-in — the driver "
        "gate samples entries at this scale; run with -m oracle_sf01)")


# long-running opt-in groups: the sf0.01 sweep (multi-minute at that
# scale) and the slow fuzz/model/fault-injection suites (tens of minutes
# combined) only run when the -m expression names them — a plain
# `pytest tests/` must finish inside its verify window. Coverage is not
# lost: the slow suites run via `pytest -m slow` and the sweep via
# -m oracle_sf01.
_OPT_IN = {"slow", "oracle_sf01"}


def pytest_collection_modifyitems(config, items):
    # an opt-in item is skipped only when the -m expression names NONE
    # of its own markers — matched as whole identifiers, so `-m oracle`
    # does not count as naming oracle_sf01
    named = set(re.findall(r"\w+", config.getoption("-m") or ""))
    for it in items:
        own = {m.name for m in it.iter_markers()}
        opt_in = sorted(own & _OPT_IN)
        if opt_in and not own & named:
            it.add_marker(pytest.mark.skip(
                reason=f"opt-in suite: pytest -m {opt_in[0]}"))


@pytest.fixture(scope="session")
def spark():
    s = get_spark(app_name="metrique_spark_tests", shuffle_partitions=8)
    yield s


@pytest.fixture(scope="session")
def sf_dir():
    return SF_DIR


def make_versions(spark):
    """Deterministic version-chain fixture: 3 oids with known intervals.

    oid 1: [t0,t1) [t1,t2) [t2,None)   — unbroken chain, open
    oid 2: [t0,t1) [t2,t3)             — gap, closed
    oid 3: [t1,None)                   — single open version
    """
    rows = [
        (1, "a", ["x"], "2014-01-01", "2014-02-01"),
        (1, "b", ["x", "y"], "2014-02-01", "2014-03-01"),
        (1, "c", ["y"], "2014-03-01", None),
        (2, "a", [], "2014-01-01", "2014-02-01"),
        (2, "b", ["z"], "2014-03-01", "2014-04-01"),
        (3, "a", ["x", "z"], "2014-02-01", None),
    ]
    df = spark.createDataFrame(rows, "o_id long, val string, tags array<string>, s string, e string")
    from pyspark.sql import functions as F

    return (
        df.withColumn("_oid", F.col("o_id"))
        .withColumn("_start", F.to_timestamp("s"))
        .withColumn("_end", F.to_timestamp("e"))
        .drop("o_id", "s", "e")
    )


@pytest.fixture()
def versions(spark):
    return make_versions(spark)
