"""Engine-level validation of a commit batch.

``upsert`` and ``insert`` check a batch with ``validate``'s rules (no
null ``_oid``, no ``_end < _start``) inside the checkpoint that pins
the batch, before anything is written: on a new cube and on a committed
one, a bad batch raises ``validate``'s ValueError and leaves the
manifest root text and every file under the cube exactly as they
were."""

import os

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp


def _good(spark):
    df = spark.createDataFrame([(i, i) for i in range(8)],
                               "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01")))


def _null_oid(spark):
    df = spark.createDataFrame([(1, 1), (None, 2)], "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit("2024-02-01")))


def _bad_interval(spark):
    df = spark.createDataFrame([(1, 1, "2024-03-01", "2024-02-01")],
                               "oid long, col_1 long, s string, e string")
    return stamp(df, oid="oid", start="s", end="e")


def _tree(path):
    """The manifest root text and every file (with its size) under the
    cube directory; None when the cube directory does not exist."""
    if not os.path.isdir(path):
        return None
    files = sorted((os.path.relpath(os.path.join(d, f), path),
                    os.path.getsize(os.path.join(d, f)))
                   for d, _, fs in os.walk(path) for f in fs)
    root = os.path.join(path, "_manifest.json")
    text = open(root).read() if os.path.exists(root) else None
    return text, files


@pytest.mark.parametrize("op", ["upsert", "insert"])
@pytest.mark.parametrize("committed", [False, True],
                         ids=["new_cube", "committed_cube"])
@pytest.mark.parametrize("bad, match", [
    pytest.param(_null_oid, "null _oid", id="null_oid"),
    pytest.param(_bad_interval, "_end < _start", id="end_before_start"),
])
def test_invalid_batch_raises_and_writes_nothing(spark, tmp_path, op,
                                                 committed, bad, match):
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    path = eng._path("c")
    if committed:
        eng.upsert("c", _good(spark), stamped=True)
    before = _tree(path)
    with pytest.raises(ValueError, match=match):
        getattr(eng, op)("c", bad(spark), stamped=True)
    assert _tree(path) == before
    if committed:
        assert eng.count("c") == 8 and eng.count("c", date="~") == 8
