"""Engine facade tests: find/count/distinct/get_last_field/catalog ops."""

import json
import os

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine


@pytest.fixture()
def engine(spark, versions, tmp_path):
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    e.register("v", versions)
    return e


def test_find_projection_defaults(engine):
    df = engine.find("v", fields="val", date="~")
    # default fields appended (sqlalchemy.py:264-273)
    assert set(df.columns) == {"val", "_start", "_end", "_oid"}


def test_find_sort_limit(engine):
    rows = engine.find("v", date="~", sort="_start", descending=True, limit=2).collect()
    assert len(rows) == 2
    assert all(str(r["_start"]).startswith("2014-03-01") for r in rows)


def test_find_date_default_current(engine):
    # no date -> current versions only (_end is null)
    assert engine.find("v").count() == 2


def test_count_with_query(engine):
    assert engine.count("v", query='val == "a"', date="~") == 3
    assert engine.count("v", query='val == "a"') == 1  # current only: oid3


def test_distinct_scalar_and_array(engine):
    vals = [r["val"] for r in engine.distinct("v", "val").collect()]
    assert vals == ["a", "b", "c"]
    # array field flattened (sqlalchemy.py:706-721)
    tags = [r["tags"] for r in engine.distinct("v", "tags").collect()]
    assert tags == ["x", "y", "z"]


def test_get_last_field(engine):
    assert str(engine.get_last_field("v", "_start")).startswith("2014-03-01")
    assert engine.get_last_field("v", "_oid") == 3


def test_catalog(engine, spark):
    assert "v" in engine.ls()
    assert engine.exists("v")
    assert not engine.exists("nope")
    assert "tags" in engine.columns("v")


def test_sql_over_registered_cubes(engine):
    out = engine.sql("select _oid, count(*) as n from v group by _oid order by _oid")
    assert [(r["_oid"], r["n"]) for r in out.collect()] == [(1, 3), (2, 2), (3, 1)]


def test_distinct_multi_field_flattens_arrays(engine):
    # reference reduce-adds per-field lists into one flat sorted set
    out = engine.distinct("v", ["tags", "val"])
    assert out.columns == ["value"]
    vals = [r["value"] for r in out.collect()]
    assert vals == sorted({"x", "y", "z", "a", "b", "c"})


def test_dfind_via_engine(engine):
    out = engine.dfind("v", ["val"])
    assert out.count() == 3


def test_find_one_and_scalar(spark, versions):
    from metrique_spark.engine import Engine

    eng = Engine(spark)
    one = eng.find_one(versions, "val == 'c'", date="~")
    assert one is not None and one["val"] == "c" and one["_oid"] == 1
    assert eng.find_one(versions, "val == 'zzz'", date="~") is None
    n = eng.find_scalar(versions, "val == 'a'", fields="_oid", date="~",
                        sort="_oid")
    assert n == 1


def test_index_and_index_list(spark, tmp_path):
    """Advisory index registry (reference index/index_list,
    sqlalchemy.py:826-863): declarations are recorded, listed per cube,
    persisted in the warehouse, and invisible to the parquet reader."""
    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path))
    df = spark.createDataFrame([(1, "a")], ["k", "v"])
    eng.insert("c1", df, oid="k")
    eng.index("c1", ["k"])
    eng.index("c1", "v", name="ix_custom")
    listed = eng.index_list()
    assert [e["name"] for e in listed["c1"]] == ["ix_c1_k", "ix_custom"]
    assert listed["c1"][0]["column_names"] == ["k"]
    # sidecar survives a fresh Engine over the same warehouse
    eng2 = Engine(spark, warehouse=str(tmp_path))
    assert [e["name"] for e in eng2.index_list()["c1"]] == ["ix_c1_k",
                                                            "ix_custom"]
    # and does not pollute reads
    assert eng2.table("c1").count() == 1
    # a fresh Engine's first index() call must MERGE with the persisted
    # sidecar, not overwrite it (its in-memory registry starts empty)
    eng2.index("c1", ["k", "v"], name="ix_new")
    eng3 = Engine(spark, warehouse=str(tmp_path))
    assert {e["name"] for e in eng3.index_list()["c1"]} == {
        "ix_c1_k", "ix_custom", "ix_new"}


def test_index_registration_takes_writer_lease(spark, tmp_path):
    """index() read-merge-writes the manifest root's ``indexes`` list
    under the cube's writer lease: while another engine holds it,
    registration fails fast with ConcurrentWriteError (two sessions
    registering at once would otherwise lose one declaration) and
    writes nothing; once the lease is free it lands, at the same
    generation."""
    from metrique_spark.engine import ConcurrentWriteError

    wh = str(tmp_path)
    eng = Engine(spark, warehouse=wh)
    eng.insert("c1", spark.createDataFrame([(1, "a")], ["k", "v"]),
               oid="k")
    mp = os.path.join(wh, "c1", "_manifest.json")
    before = open(mp).read()
    other = Engine(spark, warehouse=wh)
    with other._write_lock("c1"):
        with pytest.raises(ConcurrentWriteError):
            eng.index("c1", ["k"])
        assert open(mp).read() == before
    eng.index("c1", ["k"])
    root = json.loads(open(mp).read())
    assert root["indexes"] == [{"name": "ix_c1_k", "column_names": ["k"]}]
    assert root["gen"] == json.loads(before)["gen"]
    assert [e["name"] for e in Engine(spark, warehouse=wh)
            .index_list()["c1"]] == ["ix_c1_k"]


def test_auto_compact_hook(spark, tmp_path):
    """auto_compact_batches: repeated snapshot upserts must not accumulate
    one history directory per batch — the hook compacts once the count
    exceeds the threshold, and no history rows are lost."""
    import os

    from pyspark.sql import functions as F

    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path), auto_compact_batches=2)
    for i in range(5):
        df = spark.createDataFrame(
            [(k, f"v{i}") for k in range(3)], ["k", "val"])
        eng.upsert("c", df, oid="k",
                   start=F.to_timestamp(F.lit(f"2024-0{i + 1}-01")))
    def tokens(e, cube):
        return {e._batch_dir_token(d)
                for d in e._manifest(e._path(cube))["dirs"]
                if d.startswith("_current=false")}

    assert len(tokens(eng, "c")) <= 2
    # nothing lost: 4 closed versions per key + 1 open = 15 rows
    assert eng.count("c", date="~") == 15
    assert eng.count("c", date=None) == 3
    # un-hooked engine over the same sequence accumulates one dir per batch
    eng2 = Engine(spark, warehouse=str(tmp_path / "wh2"))
    for i in range(5):
        df = spark.createDataFrame(
            [(k, f"v{i}") for k in range(3)], ["k", "val"])
        eng2.upsert("c", df, oid="k",
                    start=F.to_timestamp(F.lit(f"2024-0{i + 1}-01")))
    assert len(tokens(eng2, "c")) == 4


def test_concurrent_writer_fails_fast(spark, tmp_path):
    import os

    from metrique_spark.engine import ConcurrentWriteError, Engine

    wh = str(tmp_path / "wh_lock")
    e1 = Engine(spark, warehouse=wh)
    df = spark.createDataFrame(
        [(1, "a", "2014-01-01", None)],
        "_oid long, val string, _start string, _end string")
    from pyspark.sql import functions as F

    stamped = (df.withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    e1.upsert("c", stamped)

    # a LIVE competing writer (this very pid) holds the lease -> the
    # second upsert must fail fast, not interleave snapshot merges
    import json
    import socket

    from metrique_spark.fs import _pid_start_time

    lock = os.path.join(wh, ".c.lock")

    def _lease(pid, pid_start):
        return json.dumps({"owner": "x", "pid": pid, "pid_start": pid_start,
                           "host": socket.gethostname(),
                           "acquired_at": 1.0})

    with open(lock, "w") as fh:
        fh.write(_lease(os.getpid(), _pid_start_time(os.getpid())))
    e2 = Engine(spark, warehouse=wh)
    import pytest as _pytest

    with _pytest.raises(ConcurrentWriteError, match="locked by writer"):
        e2.upsert("c", stamped)
    os.unlink(lock)

    # a STALE lease (holder pid no longer exists) is reclaimed: the
    # upsert proceeds and leaves the lease released afterwards
    with open(lock, "w") as fh:
        fh.write(_lease(999999999, 12345))
    e2.upsert("c", stamped)
    assert not os.path.exists(lock)

    # a RECYCLED pid (live pid, wrong start time) is dead, not held
    # forever: the recorded start time can't match the current process
    with open(lock, "w") as fh:
        fh.write(_lease(os.getpid(), -1))
    e2.upsert("c", stamped)
    assert not os.path.exists(lock)

    # reentrancy: auto-compact inside upsert acquires the same cube lock
    e3 = Engine(spark, warehouse=wh, auto_compact_batches=1)
    for day in ["2014-02-01", "2014-03-01", "2014-04-01"]:
        batch = spark.createDataFrame(
            [(1, f"v{day}", day, None)],
            "_oid long, val string, _start string, _end string")
        e3.upsert("c", batch
                  .withColumn("_start", F.col("_start").cast("timestamp"))
                  .withColumn("_end", F.col("_end").cast("timestamp")))
    assert not os.path.exists(lock)


def test_engine_full_protocol_on_object_store(spark, tmp_path):
    """The whole warehouse protocol over the object-store control-plane
    shim: autotable, snapshot upsert, history import, compact, index
    sidecars, catalog listing, lease locking with ttl reclaim, drop —
    nothing may touch POSIX rename/O_EXCL/lockfile semantics."""
    import os

    from metrique_spark.engine import ConcurrentWriteError, Engine
    from metrique_spark.fs import ObjectStoreFS

    store = ObjectStoreFS()
    wh = str(tmp_path / "objwh")
    eng = Engine(spark, warehouse=wh, fs=store, lock_ttl=3600)

    def batch(day, vals):
        df = spark.createDataFrame(
            [(k, v, day, None) for k, v in vals],
            "_oid long, val string, _start string, _end string")
        return (df.withColumn("_start", F.col("_start").cast("timestamp"))
                .withColumn("_end", F.col("_end").cast("timestamp")))

    eng.upsert("c", batch("2024-01-01", [(1, "a"), (2, "b")]))
    eng.upsert("c", batch("2024-02-01", [(1, "a2"), (3, "c")]))
    assert eng.count("c", date=None) == 3          # open rows: 1,2,3
    assert eng.count("c", date="~") == 4           # + closed v1 of oid 1
    assert eng.ls() == ["c"]
    assert eng.exists("c")

    # another engine on the same store: lease blocks concurrent writes
    import json as _json
    lock = store.join(wh, ".c.lock")
    held = store.read_text if store.isfile(lock) else None
    assert held is None  # released after upsert
    # simulate a crashed remote holder; ttl=0 reclaims, ttl=None blocks
    store.write_text(lock, _json.dumps(
        {"owner": "x", "pid": 1, "pid_start": 1, "host": "elsewhere",
         "acquired_at": 1.0}))
    blocked = Engine(spark, warehouse=wh, fs=store, lock_ttl=None)
    with pytest.raises(ConcurrentWriteError, match="locked by writer"):
        blocked.upsert("c", batch("2024-03-01", [(2, "b2")]))
    eng.upsert("c", batch("2024-03-01", [(2, "b2")]))  # ttl reclaim
    assert not store.exists(lock)

    # compact consolidates history batch dirs through the fs backend
    def tokens():
        return {eng._batch_dir_token(d)
                for d in eng._manifest(eng._path("c"))["dirs"]
                if d.startswith("_current=false")}

    assert len(tokens()) == 2
    assert eng.compact("c") >= 1
    assert len(tokens()) == 1
    assert eng.count("c", date="~") == 5

    # history import (full-history replace per oid)
    hist_df = spark.createDataFrame(
        [(9, "h1", "2023-01-01", "2023-06-01"),
         (9, "h2", "2023-06-01", None)],
        "_oid long, val string, _start string, _end string")
    hist_df = (hist_df
               .withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("c", hist_df, autosnap=False)
    assert eng.count("c", "_oid == 9", date="~") == 2

    # index sidecar via fs, catalog roundtrip, drop
    eng.index("c", ["val"])
    assert eng.index_list()["c"][0]["column_names"] == ["val"]
    eng.drop("c")
    assert not eng.exists("c")
    assert not os.path.isdir(os.path.join(wh, "c"))


def test_first_write_crash_between_sidecar_and_data_converges(spark, tmp_path):
    """The `_layout.json` fence lands before the first data write; a crash in
    between leaves a data-less cube dir. The retry must take the
    first-write path again (not the merge path, which would fail reading
    an empty cube) and converge."""
    import json
    import os

    from metrique_spark.engine import Engine

    wh = str(tmp_path / "wh")
    eng = Engine(spark, warehouse=wh, oid_buckets=8)
    # simulate the crash window: sidecar exists, no data
    os.makedirs(os.path.join(wh, "c"))
    with open(os.path.join(wh, "c", "_layout.json"), "w") as fh:
        json.dump({"oid_buckets": 8}, fh)
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01", None)],
        "_oid long, val string, _start string, _end string")
    stamped = (df.withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("c", stamped)
    assert eng.count("c") == 1
    # the retry re-stamps the sidecar with the constant fence, and the
    # bucket count and layout land in the manifest root
    assert json.load(open(os.path.join(wh, "c", "_layout.json"))) == \
        {"format": 2, "min_format": 7}
    root = json.load(open(os.path.join(wh, "c", "_manifest.json")))
    assert root["format"] == 7 and root["oid_buckets"] == 8
    assert root["layout"] == {}
    # and the cube keeps working through the normal merge path
    eng.upsert("c", stamped.withColumn("val", F.lit("b"))
               .withColumn("_start",
                           F.to_timestamp(F.lit("2024-02-01"))))
    assert eng.count("c", date="~") == 2


def test_find_oids_prunes_to_bucket_partitions(spark, tmp_path):
    """Point lookups with oids= must partition-prune the scan to the oid
    buckets (PartitionFilters on __obucket in the plan) and return
    exactly the same rows as the unpruned query."""
    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    df = spark.createDataFrame(
        [(i, f"v{i}", "2024-01-01", None) for i in range(40)],
        "_oid long, val string, _start string, _end string")
    stamped = (df.withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("c", stamped)

    pruned = eng.find("c", oids=[7, 11], date="~")
    rows = sorted(r["_oid"] for r in pruned.collect())
    assert rows == [7, 11]
    # plan: the __obucket partition filter reached the scan
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__obucket" in plan.split("PartitionFilters", 1)[-1][:400]
    # equivalence with the unpruned MQL path
    via_query = sorted(r["_oid"] for r in
                       eng.find("c", "_oid in [7, 11]", date="~").collect())
    assert via_query == rows
    assert eng.count("c", oids=[7]) == 1
    # oids on a registered view (no buckets) still filters correctly
    eng.register("v", eng.table("c"))
    assert eng.count("v", oids=[7, 11], date="~") == 2


def test_int_typed_oid_cube_point_lookup_correct(spark, tmp_path):
    """xxhash64 is type-sensitive (int 7 and long 7 hash differently);
    the bucket expression hashes the STRING form so a lookup frame whose
    inferred type differs from the stored _oid type still prunes to the
    RIGHT directories. An int-typed cube probed with Python ints (which
    infer long) must return the rows, not silently zero."""
    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=16)
    df = spark.createDataFrame(
        [(i, f"v{i}", "2024-01-01", None) for i in range(40)],
        "_oid int, val string, _start string, _end string")
    stamped = (df.withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("ic", stamped)
    got = sorted(r["_oid"] for r in
                 eng.find("ic", oids=[7, 11], date="~").collect())
    assert got == [7, 11]
    assert eng.count("ic", oids=[7]) == 1


def test_find_oids_empty_list_returns_empty(spark, tmp_path):
    """oids=[] must short-circuit to an empty result on BOTH the
    bucketed warehouse path and the view path (the zero-row lookup
    frame cannot infer a schema — it used to crash)."""
    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01", None)],
        "_oid long, val string, _start string, _end string")
    stamped = (df.withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("e", stamped)
    assert eng.find("e", oids=[], date="~").count() == 0
    assert eng.count("e", oids=[]) == 0
    eng.register("ev", eng.table("e"))
    assert eng.count("ev", oids=[], date="~") == 0


def test_unreadable_layout_sidecar_raises(spark, tmp_path):
    """An unparseable manifest root — the only record of the cube's
    layout — must raise loudly, not fall back to a listing read or a
    guessed layout: a writer appending directories under the wrong
    partition keys corrupts the cube silently."""
    import os

    import pytest

    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    df = spark.createDataFrame(
        [(1, "a", "2024-01-01", None)],
        "_oid long, val string, _start string, _end string")
    stamped = (df.withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("bk", stamped)
    p = os.path.join(str(tmp_path / "wh"), "bk", "_manifest.json")
    with open(p, "w") as f:
        f.write("{not json")
    with pytest.raises(RuntimeError, match="unreadable cube manifest"):
        eng.upsert("bk", stamped)
    # scalar JSON (parses fine but is not an object) also refuses
    with open(p, "w") as f:
        f.write("12345")
    with pytest.raises(RuntimeError, match="malformed cube manifest"):
        eng.upsert("bk", stamped)


def test_upsert_rejects_mismatched_oid_type(spark, tmp_path):
    """An incoming frame whose _oid type differs from the stored cube's
    is rejected at the write boundary: mixed parquet physical types for
    one column read back wrong, and type drift is the root of the
    bucket-hash / anti-join hazards."""
    import pytest

    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    mk = lambda t: (
        spark.createDataFrame(
            [(1, "a", "2024-01-01", None)],
            f"_oid {t}, val string, _start string, _end string")
        .withColumn("_start", F.col("_start").cast("timestamp"))
        .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("tc", mk("int"))
    with pytest.raises(TypeError, match="_oid type"):
        eng.upsert("tc", mk("bigint"))
    with pytest.raises(TypeError, match="_oid type"):
        eng.upsert("tc", mk("bigint"), autosnap=False)
    with pytest.raises(TypeError, match="_oid type"):
        eng.insert("tc", mk("bigint"), stamped=True)
    # same type is fine
    eng.upsert("tc", mk("int"))
    assert eng.count("tc") == 1


def test_point_lookup_float_probe_of_integer_cube(spark, tmp_path):
    """A float probe of an integer-oid cube must prune to the STORED
    type's bucket (cast-before-hash), matching the row filter's numeric
    coercion — not silently return zero rows from the wrong directory."""
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    df = spark.createDataFrame([(i, i * 10) for i in range(1, 9)],
                               "oid long, val long")
    eng.upsert("fl", stamp(df, oid="oid",
                           start=F.to_timestamp(F.lit("2014-01-01"))),
               stamped=True)
    for probe in ([2.0], [2], [2.5]):
        got = [r["val"] for r in eng.find("fl", oids=probe,
                                          fields="val").collect()]
        want = [20] if probe[0] in (2, 2.0) else []
        assert got == want, (probe, got)


def test_compact_sort_by_clusters_files(spark, tmp_path):
    """compact(sort_by=...) must range-partition + sort the rewritten
    history so each file covers a tight, disjoint slice of the sort key
    (selective row-group stats = reader-side data skipping within a
    directory)."""
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=1)
    # 6 upsert batches, months interleaved so pre-compact files mix keys
    for m in (3, 1, 5, 2, 6, 4):
        rows = [(o, m * 100 + o) for o in range(1, 41)]
        df = spark.createDataFrame(rows, "oid long, v long")
        eng.upsert("cl", stamp(
            df, oid="oid",
            start=F.to_timestamp(F.lit(f"2014-{m:02d}-01"))), stamped=True)
    assert eng.count("cl", date="~") == 240
    removed = eng.compact("cl", target_partitions=4, sort_by=["_start"])
    assert removed > 0
    assert eng.count("cl", date="~") == 240

    hist = (eng.table("cl").where(F.col("_end").isNotNull())
            .select(F.input_file_name().alias("f"), "_start"))
    spans = (hist.groupBy("f")
             .agg(F.min("_start").alias("lo"), F.max("_start").alias("hi"))
             .collect())
    assert len(spans) >= 2
    ordered = sorted(((r["lo"], r["hi"]) for r in spans))
    for (lo1, hi1), (lo2, hi2) in zip(ordered, ordered[1:]):
        assert hi1 <= lo2, (hi1, lo2)   # files cover disjoint key ranges


def test_mql_point_lookup_prunes_to_bucket_partitions(spark, tmp_path):
    """A point lookup written as an MQL STRING (the reference's own
    idiom, ``find(query='_oid == X')``) must partition-prune exactly
    like the explicit ``oids=`` fast path: the conjunctively-implied
    oid set is derived from the query AST and the scan carries a
    ``__obucket`` PartitionFilter — at 100 TB the lookup reads a couple
    of directories, not the table."""
    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    df = spark.createDataFrame(
        [(i, f"v{i % 3}", "2024-01-01", None) for i in range(40)],
        "_oid long, val string, _start string, _end string")
    stamped = (df.withColumn("_start", F.col("_start").cast("timestamp"))
               .withColumn("_end", F.col("_end").cast("timestamp")))
    eng.upsert("c", stamped)

    pruned = eng.find("c", '_oid in [7, 11] and val == "v1"', date="~")
    plan = pruned._jdf.queryExecution().executedPlan().toString()
    assert "__obucket" in plan.split("PartitionFilters", 1)[-1][:400]
    assert sorted(r["_oid"] for r in pruned.collect()) == [7]

    # compound forms prune too, and values stay equal to the semantics
    assert eng.count("c", "_oid == 7 or _oid == 11", date="~") == 2
    assert eng.count("c", "_oid == 7 and _oid == 11", date="~") == 0

    # an UNBOUNDED query must not prune (and must stay correct): one
    # disjunct without an _oid bound reaches every bucket
    free = eng.find("c", '_oid == 7 or val == "v1"', date="~")
    fplan = free._jdf.queryExecution().executedPlan().toString()
    assert "__obucket" not in fplan.split("PartitionFilters", 1)[-1][:400]
    assert free.count() == 13  # the 13 v1 rows (oid 7 is v1 itself)


def test_bloom_oid_writes_filters_on_every_cube_file(spark, tmp_path):
    """Engine(bloom_oid_ndv=N) must stamp a parquet bloom filter on the
    _oid column of EVERY cube data file — open snapshot, closed batch,
    and compaction rewrite alike (row-group min/max on _oid is useless
    inside a hash bucket, so the bloom is what lets parquet-mr drop row
    groups on point lookups) — while the default engine writes none,
    and lookups stay value-correct either way."""
    import glob as _glob

    from metrique_spark.engine import Engine
    from metrique_spark.objects import stamp

    def oid_bloom_offsets(root):
        jvm = spark._jvm
        conf = spark._jsc.hadoopConfiguration()
        offs = {}
        for f in _glob.glob(root + "/_current=*/**/*.parquet",
                            recursive=True):
            p = jvm.org.apache.hadoop.fs.Path(f)
            hif = (jvm.org.apache.parquet.hadoop.util.HadoopInputFile
                   .fromPath(p, conf))
            r = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(hif)
            try:
                cols = r.getFooter().getBlocks().get(0).getColumns()
                off = next(
                    cols.get(i).getBloomFilterOffset()
                    for i in range(cols.size())
                    if str(cols.get(i).getPath()) == "[_oid]")
            finally:
                r.close()
            offs[f] = off
        return offs

    def ver(v, start):
        df = spark.createDataFrame(
            [(i, v * i) for i in range(64)], "oid long, x long")
        return stamp(df, oid="oid",
                     start=F.to_timestamp(F.lit(start)))

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 bloom_oid_ndv=1000)
    eng.upsert("b", ver(1, "2024-01-01"), stamped=True)
    eng.upsert("b", ver(2, "2024-02-01"), stamped=True)  # closes all
    eng.upsert("b", ver(3, "2024-03-01"), stamped=True)
    eng.compact("b", small_bytes=None)  # rewrite keeps the bloom
    offs = oid_bloom_offsets(str(tmp_path / "wh" / "b"))
    assert offs and all(off > 0 for off in offs.values()), offs
    assert eng.count("b", "_oid == 7") == 1
    assert eng.count("b", "_oid == 7", date="~") == 3

    plain = Engine(spark, warehouse=str(tmp_path / "wh2"), oid_buckets=4)
    plain.upsert("b", ver(1, "2024-01-01"), stamped=True)
    offs2 = oid_bloom_offsets(str(tmp_path / "wh2" / "b"))
    assert offs2 and all(off == -1 for off in offs2.values()), offs2

    # bloom_oid_ndv="auto": NDV derived from the manifest's own row
    # stats (avg rows per live dir), no user capacity math — every file
    # still carries a bloom, first write (no stats yet) included, and
    # the derived hint tracks the cube's actual per-dir row counts
    auto = Engine(spark, warehouse=str(tmp_path / "wh3"), oid_buckets=4,
                  bloom_oid_ndv="auto")
    auto.upsert("b", ver(1, "2024-01-01"), stamped=True)
    offs3 = oid_bloom_offsets(str(tmp_path / "wh3" / "b"))
    assert offs3 and all(off > 0 for off in offs3.values()), offs3
    auto.upsert("b", ver(2, "2024-02-01"), stamped=True)
    hint = auto._resolve(auto._path("b")).bloom_ndv
    assert hint and hint >= 1  # stats-derived
    offs4 = oid_bloom_offsets(str(tmp_path / "wh3" / "b"))
    assert offs4 and all(off > 0 for off in offs4.values()), offs4
    assert auto.count("b", "_oid == 7", date="~") == 2
    from metrique_spark.engine import Engine as _E
    import pytest as _pytest

    with _pytest.raises(ValueError, match="bloom_oid_ndv"):
        _E(spark, warehouse=str(tmp_path / "whx"), bloom_oid_ndv=0)


def test_bloom_actually_skips_row_groups_inside_a_bucket(spark,
                                                         tmp_path):
    """The point of the ``_oid`` bloom is the THIRD level of the lookup
    story: inside a hit bucket directory, row-group min/max on _oid is
    useless (the hash scatters oids uniformly), so the bloom is what
    lets the reader drop row groups. Prove the skip itself, not just
    the footer bytes: evaluate an ``_oid = k`` predicate through
    parquet-mr's own row-group filter with the stats, dictionary and
    column-index filters all DISABLED — any surviving/dropped row group
    is then attributable to the bloom alone. A present oid must keep
    its row group; an absent oid must drop every row group of every
    file in its hit bucket. (Keys sit above 2^31 so py4j passes
    java.lang.Long — parquet hashes the value at the column's physical
    width.)"""
    import glob as _glob

    from metrique_spark.engine import Engine
    from metrique_spark.objects import stamp

    BASE = 10_000_000_000
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 bloom_oid_ndv="auto")
    df = spark.createDataFrame([(BASE + i, i) for i in range(2000)],
                               "oid long, x long")
    eng.upsert("b", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)

    jvm = spark._jvm
    conf = spark._jsc.hadoopConfiguration()
    FilterApi = jvm.org.apache.parquet.filter2.predicate.FilterApi
    FilterCompat = jvm.org.apache.parquet.filter2.compat.FilterCompat
    col = FilterApi.longColumn("_oid")

    def surviving_rows(f: str, key: int, use_bloom: bool = True) -> int:
        hif = (jvm.org.apache.parquet.hadoop.util.HadoopInputFile
               .fromPath(jvm.org.apache.hadoop.fs.Path(f), conf))
        opts = (jvm.org.apache.parquet.ParquetReadOptions.builder()
                .withRecordFilter(FilterCompat.get(
                    FilterApi.eq(col, key)))
                .useBloomFilter(use_bloom)
                .useStatsFilter(False)
                .useDictionaryFilter(False)
                .useColumnIndexFilter(False)
                .build())
        r = jvm.org.apache.parquet.hadoop.ParquetFileReader.open(
            hif, opts)
        try:
            return r.getFilteredRecordCount()
        finally:
            r.close()

    files = _glob.glob(str(tmp_path / "wh" / "b") +
                       "/_current=true/**/*.parquet", recursive=True)
    assert len(files) >= 2  # one per hit bucket
    # a present oid: its bucket's file keeps the row group
    probe = BASE + 777
    bval = eng._oid_bucket_values([probe], 4)[0]
    hit = [f for f in files if f"__obucket={bval}/" in f]
    assert hit and all(surviving_rows(f, probe) > 0 for f in hit)
    # an absent oid: EVERY row group of every file in its hit bucket
    # drops — and only the bloom could have done it (all other
    # row-group filters are off; with the bloom off nothing drops)
    absent = BASE + 50_000_000
    bval = eng._oid_bucket_values([absent], 4)[0]
    hit = [f for f in files if f"__obucket={bval}/" in f]
    assert hit
    for f in hit:
        assert surviving_rows(f, absent) == 0
        assert surviving_rows(f, absent, use_bloom=False) > 0


def test_count_metadata_only_fast_path(spark, tmp_path, monkeypatch):
    """Unfiltered count() (current-only and all-history) must answer
    from the manifest's per-directory row stats WITHOUT touching any
    data file — at 100 TB a bare count should never scan the table.
    Filtered shapes and stat-less dirs fall back to the scan."""
    from metrique_spark.objects import stamp

    def ver(v, start):
        df = spark.createDataFrame(
            [(i, v * 100 + i) for i in range(64)], "oid long, x long")
        return stamp(df, oid="oid",
                     start=F.to_timestamp(F.lit(start)))

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 keep_generations=2)
    eng.upsert("c", ver(1, "2024-01-01"), stamped=True)
    eng.upsert("c", ver(2, "2024-02-01"), stamped=True)
    eng.upsert("c", ver(3, "2024-03-01"), stamped=True)
    gens = eng.generations("c")
    assert eng.count("c") == 64
    assert eng.count("c", date="~") == 192
    eng.compact("c", small_bytes=None)  # rewrite keeps the stats exact
    assert eng.count("c", date="~") == 192

    def boom(*a, **kw):
        raise RuntimeError("metadata-only count must not read data")

    monkeypatch.setattr(Engine, "_read_raw", boom)
    assert eng.count("c") == 64                    # current-only
    assert eng.count("c", date="~") == 192         # all history
    # retained generation: stats carry forward for its dirs too
    assert eng.count("c", date="~", generation=gens[1]) == 128
    # filtered shapes fall back to the (poisoned) scan
    with pytest.raises(RuntimeError, match="metadata-only"):
        eng.count("c", "_oid == 1")
    with pytest.raises(RuntimeError, match="metadata-only"):
        eng.count("c", date="2024-02-15")
    with pytest.raises(RuntimeError, match="metadata-only"):
        eng.count("c", oids=[1])


def test_rebucket_migrates_count_and_stays_correct(spark, tmp_path):
    """rebucket(cube, N') is a physical-only migration: content is
    invariant across the rewrite, point lookups prune under the NEW
    modulus (read from the manifest root), subsequent snapshot upserts
    merge correctly against the rebucketed layout, and a time-travel
    read of a PRE-rebucket generation prunes under the OLD count (a
    lookup hashed with the wrong modulus would silently miss rows)."""
    from metrique_spark.engine import Engine
    from metrique_spark.objects import stamp

    def ver(v, start):
        df = spark.createDataFrame(
            [(i, v * 1000 + i) for i in range(48)], "oid long, x long")
        return stamp(df, oid="oid",
                     start=F.to_timestamp(F.lit(start)))

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 keep_generations=3)
    eng.upsert("c", ver(1, "2024-01-01"), stamped=True)
    eng.upsert("c", ver(2, "2024-02-01"), stamped=True)
    pre_gen = eng.generations("c")[0]
    before = sorted((r["_oid"], r["x"], str(r["_start"]))
                    for r in eng.find("c", date="~").collect())

    eng.rebucket("c", 16)
    assert eng.describe("c")["oid_buckets"] == 16
    # the manifest root is the count's one record: the live count is
    # the new one, every retained generation keeps its old count (so
    # time travel below still prunes correctly), and the root carries
    # the format fence and no layout count
    import json as _json

    root = _json.loads(eng.fs.read_text(
        eng.fs.join(eng._path("c"), "_manifest.json")))
    assert root["oid_buckets"] == 16
    assert root["format"] == 7 and "oid_buckets" not in root["layout"]
    meta_h = eng._manifest(eng._path("c"))["history"]
    assert all(h["oid_buckets"] == 4 for h in meta_h)
    after = sorted((r["_oid"], r["x"], str(r["_start"]))
                   for r in eng.find("c", date="~").collect())
    assert after == before and len(after) == 96
    # physical layout really moved: some dir carries a bucket value >= 4
    meta = eng._manifest(eng._path("c"))
    vals = {int(d.split("/")[1].split("=")[1]) for d in meta["dirs"]}
    assert max(vals) >= 4, vals

    # point lookups under the new modulus: pruned AND correct
    got = eng.find("c", "_oid in [7, 11]", date="~")
    plan = got._jdf.queryExecution().executedPlan().toString()
    assert "__obucket" in plan.split("PartitionFilters", 1)[-1][:400]
    assert sorted(r["_oid"] for r in got.collect()) == [7, 7, 11, 11]
    assert eng.count("c", oids=[7]) == 1

    # a later snapshot upsert merges correctly against the new layout
    eng.upsert("c", ver(3, "2024-03-01"), stamped=True)
    assert eng.count("c") == 48
    assert eng.count("c", date="~") == 144
    assert eng.find_one("c", "_oid == 7")["x"] == 3007

    # time travel to the PRE-rebucket generation prunes with the OLD
    # count and returns its exact committed content
    tt = eng.find("c", "_oid in [7, 11]", date="~", generation=pre_gen)
    assert sorted(r["_oid"] for r in tt.collect()) == [7, 7, 11, 11]
    assert eng.count("c", date="~", generation=pre_gen) == 96

    # a second engine over the same warehouse (fresh state) resolves
    # the count from the manifest root too
    eng2 = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    assert eng2.count("c", date="~") == 144
    eng2.upsert("c", ver(4, "2024-04-01"), stamped=True)
    assert eng2.count("c", date="~") == 192
    assert eng2.find_one("c", "_oid == 7")["x"] == 4007

    # no-op and validation
    eng.rebucket("c", 16)
    with pytest.raises(ValueError, match="must be > 0"):
        eng.rebucket("c", 0)


def test_rebucket_crash_before_flip_leaves_old_generation(
        spark, tmp_path, monkeypatch):
    """A rebucket that dies before the manifest flip changes nothing:
    readers stay on the old generation/count, the stranded rewrite is
    swept by vacuum, and a retry converges."""
    from metrique_spark.engine import Engine
    from metrique_spark.objects import stamp

    def ver(v, start):
        df = spark.createDataFrame(
            [(i, v * 1000 + i) for i in range(16)], "oid long, x long")
        return stamp(df, oid="oid",
                     start=F.to_timestamp(F.lit(start)))

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=2)
    eng.upsert("c", ver(1, "2024-01-01"), stamped=True)
    eng.upsert("c", ver(2, "2024-02-01"), stamped=True)
    real = Engine._manifest_flip

    def boom(*a, **kw):
        raise RuntimeError("crash before flip")

    monkeypatch.setattr(Engine, "_manifest_flip", boom)
    with pytest.raises(RuntimeError, match="crash before flip"):
        eng.rebucket("c", 8)
    monkeypatch.setattr(Engine, "_manifest_flip", real)
    # unchanged: old count, old content
    assert eng.describe("c")["oid_buckets"] == 2
    assert eng.count("c", date="~") == 32
    assert eng.find_one("c", "_oid == 3")["x"] == 2003
    # the stranded rewrite is unreferenced; vacuum sweeps it
    eng.vacuum("c")
    live = set(eng._manifest(eng._path("c"))["dirs"])
    import os
    path = eng._path("c")
    on_disk = set()
    for r, _d, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                on_disk.add(os.path.relpath(r, path))
    assert on_disk <= {d for d in live}
    # retry converges
    eng.rebucket("c", 8)
    assert eng.describe("c")["oid_buckets"] == 8
    assert eng.count("c", date="~") == 32
    assert eng.find_one("c", "_oid == 3")["x"] == 2003


def test_sql_resolves_warehouse_cubes_by_name(spark, tmp_path):
    """engine.sql() must see warehouse cubes as tables by name (the
    reference's raw-SQL surface queries cube tables directly) — lazily
    registered on demand, with explicitly registered views winning."""
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=2)
    df = spark.createDataFrame([(i, i * 10) for i in range(5)],
                               "oid long, x long")
    eng.upsert("wcube", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    out = eng.sql("select count(*) as n from wcube where x >= 20")
    assert out.first()["n"] == 3
    # a registered view with the same name wins over the warehouse cube
    eng.register("wcube", spark.createDataFrame([(99,)], "only long"))
    assert eng.sql("select count(*) as n from wcube").first()["n"] == 1


def test_sql_autoregistration_is_nonclobbering_and_lazy_safe(spark,
                                                             tmp_path):
    """sql()'s lazy cube registration must never clobber a temp view
    the user created DIRECTLY on the SparkSession, and an INCIDENTAL
    bare-word match (a string literal / column equal to a cube name)
    on an UNREADABLE cube must not abort the query."""
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=2)
    df = spark.createDataFrame([(i, i) for i in range(4)],
                               "oid long, x long")
    eng.upsert("mine", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    # user-created session temp view shadowing the cube name: sql()
    # must leave it alone
    spark.createDataFrame([(1,)], "u long").createOrReplaceTempView(
        "mine")
    try:
        assert eng.sql("select count(*) as n from mine").first()["n"] == 1
    finally:
        spark.catalog.dropTempView("mine")
    # once the user view is gone, the cube resolves again
    assert eng.sql("select count(*) as n from mine").first()["n"] == 4
    # an unreadable directory whose name appears only inside a string
    # literal must not abort the query (registration is skipped)
    import os

    os.makedirs(str(tmp_path / "wh" / "brokencube"))
    with open(str(tmp_path / "wh" / "brokencube" / "_layout.json"),
              "w") as f:
        f.write("not json{")
    out = eng.sql("select 'brokencube' as tag, count(*) as n from mine")
    assert out.first()["n"] == 4
    # but a REAL table reference to the broken cube still fails loud
    # with Spark's own not-found error
    import pytest as _p

    with _p.raises(Exception, match="TABLE_OR_VIEW_NOT_FOUND|cannot be found"):
        eng.sql("select * from brokencube").collect()


def test_sql_autoview_refreshes_across_engines(spark, tmp_path):
    """The lazy-view registry is SESSION-scoped: a second engine on the
    same SparkSession must recognize the first engine's autoview as
    engine-owned and refresh it — not mistake it for a user view and
    serve the old generation forever."""
    from metrique_spark.objects import stamp

    wh = str(tmp_path / "wh")
    eng_a = Engine(spark, warehouse=wh, oid_buckets=2)
    df = spark.createDataFrame([(i, i) for i in range(3)],
                               "oid long, x long")
    eng_a.upsert("xeng", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    assert eng_a.sql("select count(*) as n from xeng").first()["n"] == 3
    eng_b = Engine(spark, warehouse=wh, oid_buckets=2)
    df2 = spark.createDataFrame([(i, i) for i in range(3, 5)],
                                "oid long, x long")
    eng_b.upsert("xeng", stamp(
        df2, oid="oid", start=F.to_timestamp(F.lit("2024-02-01"))),
        stamped=True)
    # eng_b must refresh the view eng_a registered (live manifest, not
    # the generation eng_a pinned)
    assert eng_b.sql("select count(*) as n from xeng").first()["n"] == 5
    # and eng_a sees the new generation on ITS next sql() too
    assert eng_a.sql("select count(*) as n from xeng").first()["n"] == 5


def test_oid_bucket_prune_skips_cross_family_literals(spark, tmp_path):
    """The __obucket point-lookup prune is sound only within a type
    family: on a STRING-oid cube, ``_oid == 1`` coerces the stored
    column numerically, so the row '01' matches the predicate while
    living in a bucket the literal's hash would skip — the prune must
    NOT apply (read unpruned, still correct), while same-family
    lookups keep pruning."""
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    # numeric-looking strings only: under ANSI a non-numeric oid would
    # make the coercing row predicate itself error — the guard's
    # concern is the silent-miss case ('01' vs '1'), not that one
    df = spark.createDataFrame(
        [("01", 1), ("1", 2), ("2", 3), ("10", 4)], "oid string, v long")
    eng.upsert("s", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    # cross-family literal: Spark coerces _oid numerically, so BOTH
    # '01' and '1' match — the unpruned read must find both
    got = sorted(r["v"] for r in
                 eng.find("s", query="_oid == 1", date="~").collect())
    assert got == [1, 2]
    assert eng.count("s", query="_oid == 1", oids=None, date="~") == 2
    # same family: pruned, and the partition filter reaches the scan
    q = eng.find("s", query="_oid == '1'", date="~")
    assert [r["v"] for r in q.collect()] == [2]
    plan = q._jdf.queryExecution().executedPlan().toString()
    assert "__obucket" in plan.split("PartitionFilters", 1)[-1][:400]
    # the explicit oids= path takes the same family guard
    assert sorted(r["v"] for r in
                  eng.find("s", oids=[1], date="~").collect()) == [1, 2]
    assert [r["v"] for r in
            eng.find("s", oids=["10"], date="~").collect()] == [4]


def test_sql_user_view_created_after_autoview_wins(spark, tmp_path):
    """A temp view the user creates AFTER sql() already auto-registered
    the cube name must win from then on — the old name-set registry
    skipped the tableExists guard once a name was registered and
    silently clobbered it."""
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=2)
    df = spark.createDataFrame([(i, i) for i in range(4)],
                               "oid long, x long")
    eng.upsert("latecube", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    # first sql() registers the autoview
    assert eng.sql(
        "select count(*) as n from latecube").first()["n"] == 4
    # the user NOW shadows the name directly on the session
    spark.createDataFrame([(1,)], "u long").createOrReplaceTempView(
        "latecube")
    try:
        assert eng.sql(
            "select count(*) as n from latecube").first()["n"] == 1
        # and it keeps winning on subsequent calls
        assert eng.sql(
            "select count(*) as n from latecube").first()["n"] == 1
    finally:
        spark.catalog.dropTempView("latecube")
    # gone again: the cube resolves (and refreshes) once more
    assert eng.sql(
        "select count(*) as n from latecube").first()["n"] == 4


def test_sql_plan_walk_extracts_quoted_and_multipart_names(spark,
                                                           tmp_path):
    """sql()'s referenced-table detection walks the parsed logical
    plan's ``UnresolvedRelation`` nodes via ``multipartIdentifier`` —
    never the plan's string repr — so a backtick-quoted identifier
    containing ``]`` or ``,`` round-trips exactly (the old string-repr
    regex truncated ``ab]cd`` to ``ab``), multipart names are skipped
    (the warehouse namespace is flat), and relations inside subquery
    expressions are seen."""
    from metrique_spark.objects import stamp

    q = ("with `ab]c,d` as (select 1 as x) "
         "select * from `ab]c,d` cross join realcube "
         "where exists (select 1 from subq_only)")
    jplan = (spark._jsparkSession.sessionState().sqlParser()
             .parsePlan(q))
    got = Engine._plan_relations(jplan)
    # exact names — the bracketed one intact, the prefix 'ab' absent
    assert got == {"ab]c,d", "realcube", "subq_only"}
    assert "ab" not in got
    # multipart identifiers are not cube candidates
    jplan2 = (spark._jsparkSession.sessionState().sqlParser()
              .parsePlan("select * from db.tbl join plaincube"))
    assert Engine._plan_relations(jplan2) == {"plaincube"}

    # end-to-end: a cube named 'ab' must NOT be registered by a query
    # whose only weird reference is the quoted CTE name it is a string
    # prefix of, while the really-referenced cube resolves
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=2)
    mk = spark.createDataFrame([(i, i) for i in range(3)],
                               "oid long, x long")
    for name in ("ab", "realcube"):
        eng.upsert(name, stamp(
            mk, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
            stamped=True)
    out = eng.sql("with `ab]c,d` as (select 1 as x) "
                  "select count(*) as n from realcube "
                  "cross join `ab]c,d`")
    assert out.first()["n"] == 3
    reg = getattr(spark, "_mtq_sql_autoviews", {})
    assert "realcube" in reg and "ab" not in reg


def test_point_lookup_lists_only_hit_bucket_dirs(spark, tmp_path):
    """The oids= point lookup prunes the DIRECTORY LIST fed to the
    reader, not just the scan: the planned read's input files all live
    under the hit buckets' directories (O(hit) listing — past ~32
    paths Spark's file listing becomes a one-task-per-directory job,
    which made plan time O(cube) at scale), the empty-bucket lookup
    reads NOTHING, and the answers match the unpruned read. Large oids
    (> 2^31) on purpose: they cross py4j as proper longs."""
    from metrique_spark.objects import stamp
    from metrique_spark.xxh64 import obucket_of

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=64)
    base = 2**33
    df = spark.createDataFrame([(base + i, i) for i in range(256)],
                               "oid long, x long")
    eng.upsert("c", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    # one closed delta so both open and closed dirs exist
    d2 = spark.createDataFrame([(base + 3, 1003)], "oid long, x long")
    eng.upsert("c", stamp(
        d2, oid="oid", start=F.to_timestamp(F.lit("2024-02-01"))),
        stamped=True)
    meta = eng._manifest(eng._path("c"))
    assert len(meta["dirs"]) > 32
    target = base + 3
    b = obucket_of(target, 64)
    q = eng.find("c", oids=[target], date="~")
    files = q._jdf.inputFiles()
    assert files, "lookup read no files"
    assert all(f"__obucket={b}/" in f or f.endswith(f"__obucket={b}")
               or f"__obucket={b}/" in f + "/" for f in files), files
    got = sorted(r["x"] for r in q.collect())
    assert got == [3, 1003]
    # MQL-literal form prunes the same way
    q2 = eng.find("c", query=f"_oid == {target}", date="~")
    assert {f.rsplit("/", 2)[-2] if "__obucket" in f else f
            for f in q2.inputFiles()} and sorted(
        r["x"] for r in q2.collect()) == [3, 1003]
    # a lookup hashing only into bucket(s) with no directories reads
    # nothing at all (zero-row schema frame, no listing)
    eng2 = Engine(spark, warehouse=str(tmp_path / "wh2"),
                  oid_buckets=1024)
    eng2.upsert("t", stamp(
        spark.createDataFrame([(1, 1), (2, 2)], "oid long, x long"),
        oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    lived = {d.split("/")[1] for d in
             eng2._manifest(eng2._path("t"))["dirs"]}
    empty_oid = next(o for o in range(3, 5000)
                     if f"__obucket={obucket_of(o, 1024)}" not in lived)
    qe = eng2.find("t", oids=[empty_oid], date="~")
    assert qe.count() == 0 and list(qe._jdf.inputFiles()) == []


def test_trickle_upsert_does_no_full_cube_listing(spark, tmp_path,
                                                  monkeypatch):
    """A bucket-granular snapshot trickle on a manifested bucketed cube
    must never build the full-cube read: schema checks come from the
    manifest schema and the merge reads exact hit relpaths — _read_raw
    (the O(cube) listing read) is not called at all."""
    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=16)
    df = spark.createDataFrame([(i, i) for i in range(64)],
                               "oid long, x long")
    eng.upsert("c", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    calls = []
    orig = Engine._read_raw

    def spy(self, path, *a, **kw):
        calls.append(path)
        return orig(self, path, *a, **kw)

    monkeypatch.setattr(Engine, "_read_raw", spy)
    d2 = spark.createDataFrame([(3, 1003), (7, 1007)],
                               "oid long, x long")
    eng.upsert("c", stamp(
        d2, oid="oid", start=F.to_timestamp(F.lit("2024-02-01"))),
        stamped=True)
    assert calls == [], "trickle built a full-cube listing read"
    assert sorted(r["x"] for r in
                  eng.find("c", oids=[3, 7]).collect()) == [1003, 1007]
    assert eng.count("c", date="~") == 66
