"""Schema evolution on the temporal store.

The reference's backend is schemaless dict objects (``core_api.py:505-520``
builds each row from whatever keys the object carries), so batches adding
or dropping fields are normal traffic. The Spark engine re-expresses that
on immutable parquet: new columns widen the cube's AUTHORITATIVE schema
recorded in the generation manifest — files already on disk never
rewrite; the manifest schema makes them read back as typed nulls —
while dropped columns null-fill into the batch. Evolution never
rewrites data (at 100 TB an ALTER-style rewrite is a non-starter) and
is versioned with the generation, so time travel reproduces exactly the
frame a job saw before the column existed.
"""

import shutil
import tempfile

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp


def _batch(spark, rows, schema, start, end=None):
    df = spark.createDataFrame(rows, schema)
    b = stamp(df, oid="key", start=F.to_timestamp(F.lit(start)))
    if end is not None:
        b = b.withColumn("_end", F.to_timestamp(F.lit(end)))
    return b


@pytest.fixture()
def wh():
    d = tempfile.mkdtemp(prefix="evo_wh_")
    yield d
    shutil.rmtree(d, ignore_errors=True)


@pytest.fixture()
def eng(spark, wh):
    return Engine(spark, warehouse=wh, oid_buckets=4, keep_generations=4)


def test_snapshot_upsert_adds_column(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a"), (2, "b")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    eng.upsert("c", _batch(spark, [(2, 9.5), (3, 7.0)],
                           "key long, score double", "2024-02-01"),
               stamped=True)
    t = eng.table("c")
    assert "score" in t.columns and "name" in t.columns
    rows = {(r["_oid"], bool(r["_current"])): r
            for r in t.collect()}
    # pre-evolution open row unchanged, new column reads back null
    assert rows[(1, True)]["score"] is None
    assert rows[(1, True)]["name"] == "a"
    # evolved rows carry the value; dropped column null-fills
    assert rows[(2, True)]["score"] == 9.5
    assert rows[(2, True)]["name"] is None
    assert rows[(3, True)]["score"] == 7.0
    # the closed copy of oid 2 keeps its original values
    assert rows[(2, False)]["name"] == "b"
    assert rows[(2, False)]["score"] is None


def test_missing_columns_null_fill_without_error(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a", 5)],
                           "key long, name string, n long", "2024-01-01"),
               stamped=True)
    # batch carries only a subset of the stored columns
    eng.upsert("c", _batch(spark, [(1, "b")],
                           "key long, name string", "2024-02-01"),
               stamped=True)
    cur = eng.table("c").where("_current").collect()
    assert len(cur) == 1
    assert cur[0]["name"] == "b" and cur[0]["n"] is None


def test_evolve_false_rejects_new_columns(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    with pytest.raises(ValueError, match="evolve=True"):
        eng.upsert("c", _batch(spark, [(2, True)],
                               "key long, flag boolean", "2024-02-01"),
                   stamped=True, evolve=False)


def test_type_conflict_always_fails_loud(spark, eng):
    eng.upsert("c", _batch(spark, [(1, 1.5)],
                           "key long, score double", "2024-01-01"),
               stamped=True)
    with pytest.raises(TypeError, match="score"):
        eng.upsert("c", _batch(spark, [(2, "oops")],
                               "key long, score string", "2024-02-01"),
                   stamped=True)


def test_time_travel_reads_pre_evolution_schema(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    eng.upsert("c", _batch(spark, [(1, "a", 2.0)],
                           "key long, name string, score double",
                           "2024-02-01"), stamped=True)
    gens = eng.generations("c")
    old = eng.table("c", generation=min(gens))
    assert "score" not in old.columns
    assert "score" in eng.table("c").columns


def test_history_import_evolves(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    eng.upsert("c", _batch(spark, [(5, 3, "z")],
                           "key long, rank long, tag string",
                           "2024-01-15", end="2024-02-15"),
               stamped=True, autosnap=False)
    t = eng.table("c")
    rows = {r["_oid"]: r for r in t.collect()}
    assert rows[5]["rank"] == 3 and rows[5]["tag"] == "z"
    assert rows[5]["name"] is None
    assert rows[1]["rank"] is None  # kept row null-fills the new column


def test_insert_evolves(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    eng.insert("c", _batch(spark, [(6, [1.0, 2.0])],
                           "key long, emb array<double>", "2024-03-01"),
               stamped=True)
    t = eng.table("c")
    assert dict(t.dtypes)["emb"] == "array<double>"
    got = {r["_oid"]: r["emb"] for r in t.collect()}
    assert got[6] == [1.0, 2.0] and got[1] is None


def test_compact_preserves_evolved_schema(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a"), (2, "b")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    eng.upsert("c", _batch(spark, [(1, 1.0), (2, 2.0)],
                           "key long, score double", "2024-02-01"),
               stamped=True)
    eng.upsert("c", _batch(spark, [(1, 1.5)],
                           "key long, score double", "2024-03-01"),
               stamped=True)
    before = {r["_id"]: r for r in eng.table("c").collect()}
    eng.compact("c")
    after = {r["_id"]: r for r in eng.table("c").collect()}
    assert set(before) == set(after)
    for _id, r in before.items():
        assert after[_id]["name"] == r["name"]
        assert after[_id]["score"] == r["score"]


def test_manifest_schema_skips_footer_inference(spark, eng):
    """The manifested read passes the stored schema to the scan — the
    authoritative-schema contract: what the manifest records is exactly
    what the reader returns, column-for-column."""
    eng.upsert("c", _batch(spark, [(1, "a")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    meta = eng._manifest(eng._path("c"))
    assert meta["schema"] is not None
    from pyspark.sql.types import StructType
    stored = StructType.fromJson(meta["schema"])
    raw = eng._read_raw(eng._path("c"))
    assert [f.name for f in raw.schema.fields] == [f.name for f in stored.fields]
    assert dict(raw.dtypes)["_current"] == "boolean"


def test_mql_find_over_evolved_cube(spark, eng):
    eng.upsert("c", _batch(spark, [(1, "a"), (2, "b")],
                           "key long, name string", "2024-01-01"),
               stamped=True)
    eng.upsert("c", _batch(spark, [(2, 9.5), (3, 7.0)],
                           "key long, score double", "2024-02-01"),
               stamped=True)
    # predicates over both the old and the evolved column
    assert eng.count("c", query="score > 8") == 1
    assert eng.count("c", query="name == 'a'") == 1
    # null comparison matches pre-evolution rows (the evolved column
    # null-fills on files written before it existed)
    assert eng.count("c", query="score == None") == 1


def test_drop_column_manifest_only(spark, eng):
    """drop_column is a manifest-only commit: the column vanishes from
    live reads with no data rewrite, a retained pre-drop generation
    still reads it (its history entry kept its own schema), and MQL
    over the cube keeps working."""
    eng.upsert("d", _batch(spark, [(1, "a", 5.0), (2, "b", 7.0)],
                           "key long, name string, score double",
                           "2024-01-01"), stamped=True)
    g_before = eng.generations("d")[0]
    eng.drop_column("d", "score")
    t = eng.table("d")
    assert "score" not in t.columns and "name" in t.columns
    assert eng.count("d") == 2
    assert {r["name"] for r in eng.find("d", fields="name").collect()} \
        == {"a", "b"}
    # time travel to the pre-drop generation reads the column + values
    old = eng.table("d", generation=g_before)
    assert "score" in old.columns
    assert {r["score"] for r in old.collect()} == {5.0, 7.0}


def test_drop_column_guards(spark, eng):
    eng.upsert("d", _batch(spark, [(1, "a")], "key long, name string",
                           "2024-01-01"), stamped=True)
    with pytest.raises(ValueError, match="system"):
        eng.drop_column("d", "_oid")
    with pytest.raises(ValueError, match="no column"):
        eng.drop_column("d", "nope")


def test_drop_column_readd_same_type_is_undrop(spark, eng):
    """Re-adding a dropped column at the SAME type: pre-drop values
    resurface in UNREWRITTEN files (closed history rows always, and open
    rows in buckets no post-drop batch hit — the bucket-granular merge
    leaves them byte-identical), while open rows in buckets the
    re-adding commit DOES hit rewrite under the post-drop schema and
    read null. A DIFFERENT type fails loud — old files still hold the
    old physical type."""
    eng.upsert("d", _batch(spark, [(1, "a", 5.0)],
                           "key long, name string, score double",
                           "2024-01-01"), stamped=True)
    # close (1, a, 5.0) — its closed copy lands on disk WITH the value
    eng.upsert("d", _batch(spark, [(1, "b", 6.0)],
                           "key long, name string, score double",
                           "2024-02-01"), stamped=True)
    eng.drop_column("d", "score")
    assert "score" not in eng.table("d").columns
    # different type -> refused before anything is written
    bad = _batch(spark, [(2, "c", "high")],
                 "key long, name string, score string", "2024-03-01")
    with pytest.raises(TypeError, match="previously dropped"):
        eng.upsert("d", bad, stamped=True)
    # same type -> widens again; the batch carries oid 1's current state
    # too (hash-equal dup), so oid 1's bucket is HIT and its open row
    # rewrites under the schema that read score as null
    eng.upsert("d", _batch(spark, [(1, "b", 6.0), (2, "c", 9.0)],
                           "key long, name string, score double",
                           "2024-03-01"), stamped=True)
    rows = {(r["_oid"], r["name"]): r["score"]
            for r in eng.find("d", date="~",
                              fields="name,score").collect()}
    # closed history file untouched since before the drop: resurfaces
    assert rows[(1, "a")] == 5.0
    # oid 1's open row was rewritten by the re-adding commit (its
    # bucket was hit): null — the dup incoming did NOT close it
    assert rows[(1, "b")] is None
    assert len([k for k in rows if k[0] == 1]) == 2  # no new version
    assert rows[(2, "c")] == 9.0


def test_widening_warns(spark, eng, caplog):
    """An evolve=True widening logs a visible warning naming the new
    columns — the guard against a typo'd column name silently becoming
    permanent schema."""
    import logging

    eng.upsert("w", _batch(spark, [(1, "a")], "key long, name string",
                           "2024-01-01"), stamped=True)
    with caplog.at_level(logging.WARNING, logger="metrique_spark.engine"):
        eng.upsert("w", _batch(spark, [(2, "b", 1.0)],
                               "key long, name string, scroe double",
                               "2024-02-01"), stamped=True)
    assert any("scroe" in r.message for r in caplog.records)


def test_nested_nullability_not_a_type_conflict(spark, eng):
    """An incoming array<double> built with containsNull=false (literal
    F.array) must not conflict with the stored parquet-read array whose
    containsNull=true — nullability is not a physical type."""
    df = spark.createDataFrame([(1, [1.0, 2.0])],
                               "key long, vec array<double>")
    eng.upsert("n", stamp(df, oid="key",
                          start=F.to_timestamp(F.lit("2024-01-01")),
                          sort_arrays=False), stamped=True)
    lit = (spark.range(1).select(
        (F.col("id") + 2).alias("key"),
        F.array(F.lit(3.0), F.lit(4.0)).alias("vec")))
    assert not lit.schema["vec"].dataType.containsNull  # the trap is real
    eng.upsert("n", stamp(lit, oid="key",
                          start=F.to_timestamp(F.lit("2024-02-01")),
                          sort_arrays=False), stamped=True)
    assert eng.count("n") == 2


def test_manifest_schema_records_nullable_fields(spark, eng):
    """The persisted read schema records every data field nullable —
    the typed-null back-fill contract must hold by the STORED schema,
    not by Spark's force-nullable implementation detail."""
    import json

    from pyspark.sql.types import StructType

    src = spark.range(3).select(
        F.col("id").alias("key"), F.lit(1).alias("v"))
    assert not src.schema["v"].nullable  # non-nullable going in
    eng.upsert("nn", stamp(src, oid="key",
                           start=F.to_timestamp(F.lit("2024-01-01"))),
               stamped=True)
    meta = json.loads(eng.fs.read_text(
        eng.fs.join(eng._path("nn"), "_manifest.json")))
    sch = StructType.fromJson(meta["schema"])
    assert all(f.nullable for f in sch.fields
               if f.name not in ("_current",))
