"""Object stamp tests — invariants from reference tests/test_MetriqueObject.py."""

import pytest
from pyspark.sql import functions as F

from metrique_spark.objects import HASH_EXCLUDE, normalize_key, stamp, validate


@pytest.fixture()
def raw(spark):
    return spark.createDataFrame(
        [(1, "alpha", 10.0, ["b", "a"]), (2, "beta", 20.0, ["z"])],
        "oid long, name string, score double, tags array<string>",
    )


def test_stamp_system_fields(raw):
    out = stamp(raw, oid="oid")
    for c in ("_oid", "_id", "_hash", "_start", "_end", "_v", "__v__"):
        assert c in out.columns
    rows = out.orderBy("_oid").collect()
    # current versions: _id == str(_oid) (core_api.py:73-82)
    assert rows[0]["_id"] == "1"
    assert rows[0]["_end"] is None


def test_closed_version_id(spark):
    df = spark.createDataFrame([(1, "a", "2014-01-01", "2014-02-01")],
                               "oid long, v string, s string, e string")
    out = stamp(df, oid="oid", start="s", end="e").first()
    assert out["_id"].startswith("1:")
    assert out["_end"] is not None


def test_hash_stability_and_sensitivity(raw):
    a = stamp(raw, oid="oid").select("_oid", "_hash")
    b = stamp(raw, oid="oid").select("_oid", "_hash")
    assert sorted(a.collect()) == sorted(b.collect())  # deterministic
    # hash ignores _start/_end (HASH_EXCLUDE, core_api.py:69)
    c = stamp(raw.withColumn("extra", F.lit(None).cast("string")), oid="oid")
    changed = stamp(raw.withColumn("score", F.col("score") + 1), oid="oid")
    orig = {r["_oid"]: r["_hash"] for r in a.collect()}
    chg = {r["_oid"]: r["_hash"] for r in changed.select("_oid", "_hash").collect()}
    assert all(orig[k] != chg[k] for k in orig)


def test_array_sorted_for_hash(spark):
    # container fields sorted at ingest (core_api.py:498) so element order
    # doesn't change the hash
    d1 = spark.createDataFrame([(1, ["b", "a"])], "oid long, tags array<string>")
    d2 = spark.createDataFrame([(1, ["a", "b"])], "oid long, tags array<string>")
    h1 = stamp(d1, oid="oid").first()["_hash"]
    h2 = stamp(d2, oid="oid").first()["_hash"]
    assert h1 == h2


def test_stamp_golden_hashes(spark):
    """The exact ``_hash``/``_id`` strings and column layout ``stamp``
    produces. Every stored object's hash is a digest of the struct
    ``stamp`` hashes (sorted field names and values): a ``stamp`` that
    renamed, reordered or re-typed it would change every hash, and the
    next upsert would close every open row. Covers a key that needs
    normalizing, a reserved ``id``, an unsorted array, epoch
    ``start``/``end`` and one closed row."""
    df = spark.createDataFrame(
        [(1, 7, "a", ["z", "b", "m"], 1388534400.5, None),
         (2, 8, "b", ["y", "x"], 1388620800.0, 1391212800.25)],
        "oid long, id long, `Key Name` string, tags array<string>, "
        "s double, e double")
    out = stamp(df, oid="oid", start="s", end="e")
    assert out.columns == ["oid", "key_name", "tags", "s", "e", "_oid",
                           "_start", "_end", "_e", "_hash", "_id", "_v",
                           "__v__"]
    rows = [(r["_oid"], r["tags"], r["_hash"], r["_id"])
            for r in out.orderBy("_oid").collect()]
    assert rows == [
        (1, ["b", "m", "z"], "effa2afe09114a03f282cb8846f437ad656d9408",
         "1"),
        (2, ["x", "y"], "5b225f10986a69c6e45b5c4d7fd7189921b2092b",
         "2:1.3886208E9"),
    ]


def test_reserved_id_dropped(spark):
    df = spark.createDataFrame([(1, 99)], "oid long, id long")
    out = stamp(df, oid="oid")
    assert "id" not in out.columns


def test_normalize_key():
    assert normalize_key("Foo Bar-baz") == "foo_bar_baz"
    assert normalize_key("9lives") == "_9lives"


def test_validate_null_oid(spark):
    df = spark.createDataFrame([(None, "x")], "oid long, v string")
    with pytest.raises(ValueError, match="null _oid"):
        validate(stamp(df, oid="oid"))


def test_validate_bad_interval(spark):
    df = spark.createDataFrame([(1, "2014-02-01", "2014-01-01")],
                               "oid long, s string, e string")
    with pytest.raises(ValueError, match="_end < _start"):
        validate(stamp(df, oid="oid", start="s", end="e"))


def test_assign_autoincrement_sparse_and_dense(spark):
    from metrique_spark.objects import assign_autoincrement

    df = spark.range(100).withColumnRenamed("id", "v").repartition(8)
    sparse = assign_autoincrement(df, "id")
    rows = sparse.select("id").collect()
    assert len({r["id"] for r in rows}) == 100       # unique
    dense = assign_autoincrement(df, "id", dense=True)
    ids = sorted(r["id"] for r in dense.collect())
    assert ids == list(range(100))                   # gapless 0..n-1
    # original columns survive both paths
    assert set(dense.columns) == {"v", "id"}


def test_stamped_field_list_matches_reference_pin(spark, tmp_path):
    """F1 fixture parity (FIXTURES.md; reference
    test_cubes_builtin.py:42-44): the post-ingest field list for a CSV
    cube is exactly __v__,_e,_end,_hash,_id,_oid,_start,_v + csv columns.
    (The _hash VALUE intentionally differs — sha1-of-canonical-json, not
    the reference's python-repr hash; see objects.py module docstring.)"""
    from metrique_spark.objects import stamp
    from metrique_spark.sources import files

    p = tmp_path / "us-idx-eod.csv"
    p.write_text("symbol,date,open,close\n"
                 "$AJT,09/08/2008,17.84,18.15\n"
                 "$BQX,09/08/2008,5.0,5.5\n")
    df = stamp(files.load(spark, str(p), oid=F.monotonically_increasing_id()))
    assert sorted(df.columns) == [
        "__v__", "_e", "_end", "_hash", "_id", "_oid", "_start", "_v",
        "close", "date", "open", "symbol"]
    # date left unparsed as string, same as the reference
    assert dict(df.dtypes)["date"] == "string"
