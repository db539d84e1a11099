"""Full oracle parity sweep: EVERY ``queries()`` entry against its DuckDB
``oracle_sql()`` twin at sf0.001, one parametrized test per entry.

The driver's per-round correctness gate samples entries; this marker makes
the complete sweep part of local CI so a change to one operator family
can't silently break an unsampled entry (the round-3 lesson: the driver
dropped 7 previously-green entries from its sample in the very round their
code changed). Run just the sweep with ``pytest -m oracle``; it skips
cleanly when duckdb or the driver testdata is absent.
"""

import os

import pytest

duckdb = pytest.importorskip("duckdb")

SF_DIR = "/root/testdata/sf0.001"

pytestmark = [
    # part of the default `pytest tests/` run (~4 min): every change is
    # checked for paper parity; `-m oracle` runs the sweep alone
    pytest.mark.oracle,
    pytest.mark.skipif(not os.path.isdir(SF_DIR),
                       reason="driver testdata not present"),
]


def _entry_names():
    if not os.path.isdir(SF_DIR):
        return ["missing-testdata"]
    import __spark_entry__ as e

    return sorted(e.queries())


@pytest.fixture(scope="module")
def oracle_con():
    from scripts.check_correctness import oracle_connection

    con = oracle_connection(SF_DIR)
    yield con
    con.close()


@pytest.mark.parametrize("name", _entry_names())
def test_entry_matches_oracle(name, spark, oracle_con):
    from scripts.check_correctness import check_entry

    res = check_entry(name, spark, oracle_con, SF_DIR)
    assert res["status"] != "fail", res["problems"]
    # weak (rows-only, no SQL twin) is allowed but must still produce rows
    # deterministically rather than error out
    if res["status"] == "weak":
        assert res["rows"] is not None and res["rows"] >= 0
