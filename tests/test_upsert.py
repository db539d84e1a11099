"""Temporal upsert tests — row-count pins from reference
tests/test_sqla_proxy.py:117-139 and tests/test_MetriqueContainer.py:149-196."""

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _objs(spark, rows, start):
    df = spark.createDataFrame(rows, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


def _batch_tokens(engine, cube):
    """Distinct history commit tokens of the live generation (one per
    un-compacted upsert batch), layout-agnostic."""
    return {engine._batch_dir_token(d)
            for d in engine._manifest(engine._path(cube))["dirs"]
            if d.startswith("_current=false")}


def test_snapshot_upsert_lifecycle(spark, engine):
    # v1: two objects
    engine.upsert("kitchen", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"), stamped=True)
    assert engine.count("kitchen", date="~") == 2
    assert engine.count("kitchen") == 2  # current only

    # same content again -> dedup by _hash, nothing changes
    engine.upsert("kitchen", _objs(spark, [(1, 10), (2, 20)], "2014-02-01"), stamped=True)
    assert engine.count("kitchen", date="~") == 2

    # oid 1 changes -> old version closed at new._start, new inserted
    engine.upsert("kitchen", _objs(spark, [(1, 11)], "2014-03-01"), stamped=True)
    assert engine.count("kitchen", date="~") == 3
    assert engine.count("kitchen") == 2  # still 2 current
    closed = engine.find("kitchen", query="_oid == 1 and _end != None", date="~").collect()
    assert len(closed) == 1
    assert str(closed[0]["_end"]).startswith("2014-03-01")
    assert closed[0]["_id"].startswith("1:")
    cur = engine.find("kitchen", query="_oid == 1").collect()
    assert len(cur) == 1 and cur[0]["col_1"] == 11

    # new oid -> plain insert
    engine.upsert("kitchen", _objs(spark, [(3, 30)], "2014-04-01"), stamped=True)
    assert engine.count("kitchen", date="~") == 4
    assert engine.count("kitchen") == 3


def test_history_import(spark, engine):
    engine.upsert("h", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    # full-history replace for oid 1: two closed versions + one open
    rows = [
        (1, 1, "2013-01-01", "2013-06-01"),
        (1, 2, "2013-06-01", "2014-01-01"),
        (1, 3, "2014-01-01", None),
    ]
    df = spark.createDataFrame(rows, "oid long, col_1 long, s string, e string")
    hist = stamp(df, oid="oid", start="s", end="e")
    engine.upsert("h", hist, autosnap=False, stamped=True)
    assert engine.count("h", date="~") == 3
    assert engine.count("h") == 1
    # as-of query hits the middle version
    mid = engine.find("h", date="2013-08-01").collect()
    assert len(mid) == 1 and mid[0]["col_1"] == 2


def test_autosnap_autodetect(spark, engine):
    # batch containing a closed version -> history-import path
    rows = [(5, 1, "2013-01-01", "2013-06-01"), (5, 2, "2013-06-01", None)]
    df = spark.createDataFrame(rows, "oid long, col_1 long, s string, e string")
    engine.upsert("auto", stamp(df, oid="oid", start="s", end="e"), stamped=True)
    assert engine.count("auto", date="~") == 2
    assert engine.count("auto") == 1


def test_history_import_purges_stale_partitions(spark, engine):
    # table starts with one closed + one open version of oid 1
    rows = [(1, 1, "2013-01-01", "2014-01-01"), (1, 2, "2014-01-01", None)]
    df = spark.createDataFrame(rows, "oid long, col_1 long, s string, e string")
    engine.upsert("hp", stamp(df, oid="oid", start="s", end="e"),
                  autosnap=False, stamped=True)
    assert engine.count("hp", date="~") == 2
    # replacement history is open-only: the _current=false partition must be
    # truncated too (reference deletes ALL versions, sqlalchemy.py:955-963);
    # dynamic partition overwrite would leave the old closed row on disk
    only_open = spark.createDataFrame([(1, 3, "2014-06-01", None)],
                                      "oid long, col_1 long, s string, e string")
    engine.upsert("hp", stamp(only_open, oid="oid", start="s"),
                  autosnap=False, stamped=True)
    assert engine.count("hp", date="~") == 1
    assert engine.find("hp").first()["col_1"] == 3


def test_null_hash_upsert_does_not_drop_objects(spark, engine):
    def objs(start, val, null_hash=False):
        df = spark.createDataFrame([(1, val)], "oid long, col_1 long")
        out = stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))
        if null_hash:
            out = out.withColumn("_hash", F.lit(None).cast("string"))
        return out

    engine.upsert("nh", objs("2014-01-01", 10, null_hash=True), stamped=True)
    assert engine.count("nh", date="~") == 1
    # NULL-vs-NULL hash -> dedup skip, object must NOT vanish
    engine.upsert("nh", objs("2014-02-01", 10, null_hash=True), stamped=True)
    assert engine.count("nh", date="~") == 1
    # NULL-vs-real hash -> treated as changed: close old, insert new
    engine.upsert("nh", objs("2014-03-01", 11), stamped=True)
    assert engine.count("nh", date="~") == 2
    assert engine.find("nh").first()["col_1"] == 11


def test_merge_quotes_column_names(spark, tmp_path):
    """The merge, the alignment and the write address every column by
    its quoted name: a cube whose columns hold a space, a dot and a
    backtick upserts row for row like any other — a trickle of changed,
    unchanged and new oids, a NULL ``_hash`` on both sides of an oid
    (the null-safe ``<=>`` keeps the object and skips the duplicate),
    then a schema-evolving batch."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    schema = "oid long, `a b` long, `x.y` string, `q``t` long"

    def objs(rows, start, sch=schema, null_hash=None):
        out = stamp(spark.createDataFrame(rows, sch), oid="oid",
                    start=F.to_timestamp(F.lit(start)),
                    normalize_keys=False)
        if null_hash is not None:
            out = out.withColumn("_hash", F.when(
                F.col("_oid") != null_hash, F.col("_hash")))
        return out

    def rows():
        return sorted(
            (r["_oid"], r["a b"], r["x.y"], r["q`t"], r["n e.w"],
             r["_start"].strftime("%m-%d"),
             r["_end"] and r["_end"].strftime("%m-%d"), r["_id"])
            for r in eng.find("c", date="~").collect())

    eng.upsert("c", objs([(i, i, str(i), -i) for i in range(4)],
                         "2024-01-01", null_hash=3), stamped=True)
    eng.upsert("c", objs([(1, 10, "1", -1), (2, 2, "2", -2),
                          (3, 3, "3", -3), (100, 5, "z", 0)],
                         "2024-02-01", null_hash=3), stamped=True)
    eng.upsert("c", objs([(2, 20, "2", -2, 7), (4, 4, "4", -4, 8)],
                         "2024-03-01", schema + ", `n e.w` long"),
               stamped=True)
    assert eng.columns("c")[:4] == ["oid", "a b", "x.y", "q`t"]
    assert rows() == [
        (0, 0, "0", 0, None, "01-01", None, "0"),
        (1, 1, "1", -1, None, "01-01", "02-01", "1:1.7040672E9"),
        (1, 10, "1", -1, None, "02-01", None, "1"),
        (2, 2, "2", -2, None, "01-01", "03-01", "2:1.7040672E9"),
        (2, 20, "2", -2, 7, "03-01", None, "2"),
        (3, 3, "3", -3, None, "01-01", None, "3"),
        (4, 4, "4", -4, 8, "03-01", None, "4"),
        (100, 5, "z", 0, None, "02-01", None, "100"),
    ]


def test_crash_between_data_write_and_flip_recovers(spark, engine,
                                                    monkeypatch):
    """A crash mid-commit must leave readers on EXACTLY the previous
    generation (the closed and open rows landed on disk but the manifest
    pointer never flipped — snapshot isolation), and retrying the same
    batch converges to the crash-free state (the gen didn't advance, so
    the retry overwrites the same unreferenced directories)."""
    engine.upsert("cr", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"), stamped=True)

    # inject a crash AFTER the commit's single data write, BEFORE the
    # manifest flip
    real = Engine._write_dirs

    def boom(self, *a, **kw):
        real(self, *a, **kw)
        raise RuntimeError("injected crash")

    monkeypatch.setattr(Engine, "_write_dirs", boom)
    batch = _objs(spark, [(1, 11)], "2014-02-01")
    with pytest.raises(RuntimeError, match="injected crash"):
        engine.upsert("cr", batch, stamped=True)
    monkeypatch.undo()

    # snapshot isolation: the half-committed batch is INVISIBLE — readers
    # see exactly the pre-upsert state, not a closed copy without its
    # successor
    assert engine.count("cr", date="~") == 2
    assert engine.count("cr") == 2
    assert engine.find("cr", query="_oid == 1").first()["col_1"] == 10
    assert engine.count("cr", "_end != None", date="~") == 0

    # retrying the same batch converges to the crash-free state: the
    # identical closed set overwrites its token partition (no duplicates)
    engine.upsert("cr", batch, stamped=True)
    assert engine.count("cr", date="~") == 3
    assert engine.count("cr") == 2
    closed = engine.find("cr", query="_oid == 1 and _end != None", date="~").collect()
    assert len(closed) == 1 and closed[0]["col_1"] == 10
    cur = engine.find("cr", query="_oid == 1").collect()
    assert len(cur) == 1 and cur[0]["col_1"] == 11


def test_last_write_wins_within_batch(spark, engine):
    # two versions of the same oid in one snapshot batch -> latest _start wins
    a = _objs(spark, [(9, 1)], "2014-01-01")
    b = _objs(spark, [(9, 2)], "2014-02-01")
    engine.upsert("lww", a.unionByName(b), stamped=True)
    assert engine.count("lww", date="~") == 1
    assert engine.find("lww").first()["col_1"] == 2


def test_idempotency_token_is_distributed(spark, engine):
    """The closed-batch token must aggregate with constant per-task memory
    (count + sum of per-row hashes): a collect_list token concentrates
    every closed _id into one aggregation buffer, which is gigabytes for a
    large upsert batch. Pin the plan: no collect_list/sort_array."""
    engine.upsert("tok", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    from pyspark.sql.group import GroupedData

    captured = []
    orig_agg = GroupedData.agg

    def spy_agg(self, *exprs):
        out = orig_agg(self, *exprs)
        captured.append(out._jdf.queryExecution().analyzed().toString())
        return out

    import unittest.mock as mock
    with mock.patch.object(GroupedData, "agg", spy_agg):
        engine.upsert("tok", _objs(spark, [(1, 11)], "2014-02-01"),
                      stamped=True)
    # the commit aggregates twice: the probe over the batch, and the
    # stats-and-token pass grouped by output directory
    (plan,) = [p for p in captured if p.startswith("Aggregate [_current")]
    assert not any("collect_list" in p or "sort_array" in p
                   for p in captured)
    assert "collect_list" not in plan and "sort_array" not in plan
    assert "xxhash64" in plan and "count" in plan
    # and the upsert semantics are intact: one closed + one open version
    assert engine.count("tok", date="~") == 2
    assert engine.count("tok") == 1


def test_compact_consolidates_history_dirs(spark, engine, tmp_path):
    """Three upserts leave >= 2 token-keyed history dirs (small-files at
    scale); compact rewrites them into one, query results unchanged, and
    a second compact is a no-op."""
    import os

    engine.upsert("cp", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
                  stamped=True)
    engine.upsert("cp", _objs(spark, [(1, 11), (2, 21)], "2014-02-01"),
                  stamped=True)
    engine.upsert("cp", _objs(spark, [(1, 12)], "2014-03-01"),
                  stamped=True)
    assert len(_batch_tokens(engine, "cp")) >= 2
    before_all = sorted(
        (r["_id"], r["col_1"]) for r in engine.find(
            "cp", fields="col_1,_id", date="~").collect())
    before_cur = engine.count("cp")

    removed = engine.compact("cp")
    assert removed >= 1
    assert len(_batch_tokens(engine, "cp")) == 1
    after_all = sorted(
        (r["_id"], r["col_1"]) for r in engine.find(
            "cp", fields="col_1,_id", date="~").collect())
    assert after_all == before_all
    assert engine.count("cp") == before_cur
    # idempotent: nothing left to consolidate
    assert engine.compact("cp") == 0


def test_compact_crash_between_write_and_delete_heals(spark, engine,
                                                      monkeypatch):
    """Docstring guarantee: a crash after writing the consolidated dir but
    before deleting the originals leaves duplicate closed rows on disk;
    the next compact dedupes by _id and converges."""
    import os
    import shutil as _shutil

    engine.upsert("ch", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    engine.upsert("ch", _objs(spark, [(1, 11)], "2014-02-01"), stamped=True)
    engine.upsert("ch", _objs(spark, [(1, 12)], "2014-03-01"), stamped=True)
    before = engine.count("ch", date="~")

    def boom(path):
        raise RuntimeError("injected crash before delete")

    monkeypatch.setattr(engine.fs, "delete_dir", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        engine.compact("ch")
    monkeypatch.undo()

    # duplicates exist on disk now (consolidated + originals), but queries
    # after the NEXT compact are back to the true state
    engine.compact("ch")
    assert len(_batch_tokens(engine, "ch")) == 1
    assert engine.count("ch", date="~") == before
    assert engine.count("ch") == 1


def test_history_import_rewrites_only_hit_buckets(spark, tmp_path):
    """Bounded history import: a cube partitioned by oid bucket rewrites
    ONLY the bucket directories containing incoming oids — every parquet
    file in untouched buckets is byte-identical (same path, size, mtime)
    after the import. At 100 TB this is the difference between rewriting
    a few directories and rewriting the table."""
    import os

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    eng.upsert("b", _objs(spark, [(i, i) for i in range(40)],
                          "2014-01-01"), stamped=True)
    eng.upsert("b", _objs(spark, [(i, i + 100) for i in range(40)],
                          "2014-02-01"), stamped=True)
    assert eng.count("b", date="~") == 80

    # which bucket does oid 7 land in? (the engine's own expression)
    hit = (spark.range(1).select(F.lit(7).cast("long").alias("_oid"))
           .select(Engine._obucket(8).alias("b")).first()["b"])

    def snapshot(exclude_bucket):
        out = {}
        root = eng._path("b")
        for dirpath, _, files in os.walk(root):
            if f"__obucket={exclude_bucket}" in dirpath:
                continue
            if "_manifest_seg" in dirpath:
                continue  # manifest segment files rotate per commit
                # (by design — only the TOUCHED ranges, see the
                # segmented-manifest commit bytes test)
            for f in files:
                if f.startswith("_") and f.endswith(".json"):
                    continue  # control-plane sidecars (the manifest
                    # pointer flips on every commit, by design)
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot(hit)
    hist = spark.createDataFrame(
        [(7, 999, "2013-01-01", "2013-06-01"), (7, 1000, "2013-06-01", None)],
        "oid long, col_1 long, s string, e string")
    eng.upsert("b", stamp(hist, oid="oid", start="s", end="e"),
               autosnap=False, stamped=True)
    assert snapshot(hit) == before  # untouched buckets byte-identical

    # semantics: oid 7 has exactly its new 2-version history, all other
    # oids keep theirs
    assert eng.count("b", "_oid == 7", date="~") == 2
    assert eng.find("b", "_oid == 7").first()["col_1"] == 1000
    assert eng.count("b", date="~") == 80  # 78 others + 2 new
    assert eng.count("b") == 40


def test_history_import_sweeps_emptied_batch_dirs(spark, tmp_path):
    """A history import that replaces EVERY row of some (bucket, batch)
    directory must delete it — dynamic overwrite can't rewrite a
    partition absent from its output, and leaving the directory behind
    would resurrect the replaced versions."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    eng.upsert("s", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    eng.upsert("s", _objs(spark, [(1, 11)], "2014-02-01"), stamped=True)
    assert eng.count("s", date="~") == 2
    # open-only replacement: the closed dir held only oid 1's old version
    only_open = spark.createDataFrame([(1, 12, "2014-06-01")],
                                      "oid long, col_1 long, s string")
    eng.upsert("s", stamp(only_open, oid="oid", start="s"),
               autosnap=False, stamped=True)
    assert eng.count("s", date="~") == 1
    assert eng.find("s").first()["col_1"] == 12
    assert _batch_tokens(eng, "s") == set()  # emptied history dir swept


def test_reader_mid_snapshot_upsert_sees_single_generation(spark, engine,
                                                           monkeypatch):
    """Snapshot isolation: at the instant JUST BEFORE the manifest flip —
    i.e. after every data write of the commit has landed on disk — a
    fresh reader must see exactly the OLD generation (no closed copies,
    no new open rows, no mix); after the flip, exactly the new one."""
    engine.upsert("iso", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
                  stamped=True)
    seen = {}
    orig = Engine._manifest_flip

    def spy(self, path, old_raw, gen, dirs, history=None, stats=None, **kw):
        if "pre_total" not in seen:  # first flip after setup
            seen["pre_total"] = engine.count("iso", date="~")
            seen["pre_cur"] = {r["_oid"]: r["col_1"]
                               for r in engine.find("iso").collect()}
            seen["pre_closed"] = engine.count("iso", "_end != None",
                                              date="~")
        return orig(self, path, old_raw, gen, dirs, history, stats=stats, **kw)

    monkeypatch.setattr(Engine, "_manifest_flip", spy)
    engine.upsert("iso", _objs(spark, [(1, 11)], "2014-02-01"),
                  stamped=True)
    monkeypatch.undo()
    # all data was on disk when the spy read — yet invisible
    assert seen["pre_total"] == 2
    assert seen["pre_closed"] == 0
    assert seen["pre_cur"] == {1: 10, 2: 20}
    # after the flip: exactly the new generation
    assert engine.count("iso", date="~") == 3
    assert {r["_oid"]: r["col_1"] for r in engine.find("iso").collect()} \
        == {1: 11, 2: 20}


def test_reader_mid_history_replace_sees_single_generation(spark, engine,
                                                           monkeypatch):
    """The bucketed history replace used to expose a transient window
    where a replaced oid's OLD and NEW versions were both visible; under
    the generation pointer a pre-flip reader sees exactly the old
    history, a post-flip reader exactly the new."""
    engine.upsert("hiso", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
                  stamped=True)
    seen = {}
    orig = Engine._manifest_flip

    def spy(self, path, old_raw, gen, dirs, history=None, stats=None, **kw):
        if "pre" not in seen:
            seen["pre"] = sorted(
                (r["col_1"], str(r["_end"]))
                for r in engine.find("hiso", "_oid == 1", date="~",
                                     fields="col_1").collect())
        return orig(self, path, old_raw, gen, dirs, history, stats=stats, **kw)

    rows = [(1, 1, "2013-01-01", "2013-06-01"), (1, 2, "2013-06-01", None)]
    hist = spark.createDataFrame(rows, "oid long, col_1 long, s string, e string")
    monkeypatch.setattr(Engine, "_manifest_flip", spy)
    engine.upsert("hiso", stamp(hist, oid="oid", start="s", end="e"),
                  autosnap=False, stamped=True)
    monkeypatch.undo()
    # pre-flip: exactly the old single-version history (new rows were on
    # disk already)
    assert [c for c, _ in seen["pre"]] == [10]
    # post-flip: exactly the new 2-version history
    got = sorted(r["col_1"] for r in
                 engine.find("hiso", "_oid == 1", date="~").collect())
    assert got == [1, 2]
    assert engine.count("hiso", date="~") == 3  # oid 2 untouched


def test_reader_mid_insert_sees_single_generation(spark, engine,
                                                  monkeypatch):
    engine.insert("ains", _objs(spark, [(1, 10)], "2014-01-01"),
                  stamped=True)
    seen = {}
    orig = Engine._manifest_flip

    def spy(self, path, old_raw, gen, dirs, history=None, stats=None, **kw):
        if gen > 1 and "pre" not in seen:
            seen["pre"] = engine.count("ains", date="~")
        return orig(self, path, old_raw, gen, dirs, history, stats=stats, **kw)

    monkeypatch.setattr(Engine, "_manifest_flip", spy)
    engine.insert("ains", _objs(spark, [(2, 20)], "2014-02-01"),
                  stamped=True)
    monkeypatch.undo()
    assert seen["pre"] == 1
    assert engine.count("ains", date="~") == 2


def test_manifest_cas_detects_zombie_writer(spark, engine, monkeypatch):
    """A manifest that changed between the operation's read and its flip
    (a TTL-expired zombie writer racing us) must abort the commit loudly
    instead of silently clobbering the other writer's generation."""
    from metrique_spark.engine import ConcurrentWriteError

    engine.upsert("zc", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    orig = Engine._manifest_flip

    def racing(self, path, old_raw, gen, dirs, history=None, stats=None, **kw):
        if old_raw is not None:
            # zombie writer bumps the pointer right before our CAS
            p = self.fs.join(path, self._MANIFEST_SIDECAR)
            self.fs.write_text(p, old_raw + " ")
        return orig(self, path, old_raw, gen, dirs, history, stats=stats, **kw)

    monkeypatch.setattr(Engine, "_manifest_flip", racing)
    with pytest.raises(ConcurrentWriteError, match="manifest"):
        engine.upsert("zc", _objs(spark, [(1, 11)], "2014-02-01"),
                      stamped=True)


def test_crashed_first_write_still_retries_as_new(spark, engine,
                                                  monkeypatch):
    """The ``_layout.json`` fence distinguishes a crashed first write
    (safe to retry) from an older-format cube (refused): crash after
    the fence and data writes, before the manifest flip — the retry
    must take the first-write path and succeed."""
    from metrique_spark.engine import Engine

    orig = Engine._manifest_flip

    def boom(self, path, old_raw, gen, dirs, history=None, stats=None, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(Engine, "_manifest_flip", boom)
    with pytest.raises(RuntimeError, match="injected crash"):
        engine.upsert("cfw", _objs(spark, [(1, 10)], "2014-01-01"),
                      stamped=True)
    monkeypatch.setattr(Engine, "_manifest_flip", orig)
    assert engine._resolve(engine._path("cfw")).state == "new"
    engine.upsert("cfw", _objs(spark, [(1, 10)], "2014-01-01"),
                  stamped=True)
    assert engine.count("cfw") == 1


def test_empty_first_write_does_not_brick_cube(spark, engine):
    """A zero-row first batch must leave the cube creatable, not commit
    an empty generation every later read refuses."""
    empty = _objs(spark, [(1, 10)], "2014-01-01").where(F.lit(False))
    engine.upsert("emp", empty, stamped=True)
    assert not engine.fs.isfile(
        engine.fs.join(engine._path("emp"), "_manifest.json"))
    engine.upsert("emp", _objs(spark, [(1, 10)], "2014-01-01"),
                  stamped=True)
    assert engine.count("emp") == 1


def test_first_manifest_flip_is_cas(spark, engine):
    """Two racing first writers must not both commit: the second flip
    fails loud instead of overwriting (the loser's sweep would delete
    the winner's directories)."""
    import pytest as _pytest

    from metrique_spark.engine import ConcurrentWriteError

    engine.upsert("cas1", _objs(spark, [(1, 10)], "2014-01-01"),
                  stamped=True)
    path = engine._path("cas1")
    d = "_current=true/__obucket=0/__batch=x"
    with _pytest.raises(ConcurrentWriteError, match="first writer"):
        engine._manifest_flip(path, None, 1, {d},
                              stats={"rows": {d: 1}, "bytes": {d: 1}},
                              schema=engine._manifest(path)["schema"],
                              oid_buckets=engine.oid_buckets)


def test_time_travel_reads_exact_retained_snapshots(spark, tmp_path):
    """keep_generations=2: every commit retains the superseded
    generations' directory sets, and table(generation=g) reads the
    EXACT committed snapshot — the reproducibility pin for 'this
    training run saw corpus generation g'."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), keep_generations=2)
    snaps = {}
    for i, (rows, start) in enumerate([
            ([(1, 10), (2, 20)], "2014-01-01"),
            ([(1, 11)], "2014-02-01"),
            ([(3, 30)], "2014-03-01"),
            ([(2, 21)], "2014-04-01")], start=1):
        eng.upsert("tt", _objs(spark, rows, start), stamped=True)
        gen = eng.generations("tt")[0]
        snaps[gen] = sorted(map(tuple, eng.table("tt")
                                .select("_oid", "col_1", "_end").collect()))
    gens = eng.generations("tt")
    assert len(gens) == 3 and gens[0] == max(gens)
    for g in gens:
        got = sorted(map(tuple, eng.table("tt", generation=g)
                         .select("_oid", "col_1", "_end").collect()))
        assert got == snaps[g], g
    # generation older than the retention window is gone, loudly
    expired = min(snaps) if min(snaps) not in gens else None
    if expired is not None:
        with pytest.raises(ValueError, match="expired or unknown"):
            eng.table("tt", generation=expired).collect()


def test_time_travel_survives_compact(spark, tmp_path):
    """Compaction consolidates the live generation but must not disturb
    retained snapshots: their directories survive the sweep and read
    back exactly."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), keep_generations=3)
    eng.upsert("tc2", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    eng.upsert("tc2", _objs(spark, [(1, 11)], "2014-02-01"), stamped=True)
    eng.upsert("tc2", _objs(spark, [(1, 12)], "2014-03-01"), stamped=True)
    g_before = eng.generations("tc2")[0]
    before = sorted(map(tuple, eng.table("tc2").select(
        "_oid", "col_1", "_end").collect()))
    assert eng.compact("tc2") > 0
    # live read consolidated, identical content
    assert sorted(map(tuple, eng.table("tc2").select(
        "_oid", "col_1", "_end").collect())) == before
    # the pre-compact generation still reads via its own directories
    assert sorted(map(tuple, eng.table("tc2", generation=g_before).select(
        "_oid", "col_1", "_end").collect())) == before


def test_no_retention_keeps_current_behavior(spark, engine):
    engine.upsert("nr", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    engine.upsert("nr", _objs(spark, [(1, 11)], "2014-02-01"), stamped=True)
    assert engine.generations("nr") == [engine.generations("nr")[0]]
    with pytest.raises(ValueError, match="expired or unknown"):
        engine.table("nr", generation=1).collect()


def test_time_travel_view_rejected(spark, engine, versions):
    engine.register("vv", versions)
    with pytest.raises(ValueError, match="registered view"):
        engine.table("vv", generation=1)


def test_retention_recorded_per_cube_not_per_writer(spark, tmp_path):
    """A maintenance engine with DEFAULT config must not truncate a
    cube's retained snapshots: the retention count lives in the layout
    sidecar, like oid_buckets/time_partition."""
    a = Engine(spark, warehouse=str(tmp_path / "wh"), keep_generations=3)
    a.upsert("rp", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    a.upsert("rp", _objs(spark, [(1, 11)], "2014-02-01"), stamped=True)
    pinned = a.generations("rp")[1]  # the superseded snapshot
    want = sorted(map(tuple, a.table("rp", generation=pinned).collect()))

    maint = Engine(spark, warehouse=str(tmp_path / "wh"))  # defaults
    maint.upsert("rp", _objs(spark, [(1, 12)], "2014-03-01"), stamped=True)
    maint.compact("rp")
    # the pinned snapshot still reads exactly
    got = sorted(map(tuple, maint.table("rp", generation=pinned).collect()))
    assert got == want
    # and set_retention governs future commits
    maint.set_retention("rp", 0)
    maint.upsert("rp", _objs(spark, [(1, 13)], "2014-04-01"), stamped=True)
    assert len(maint.generations("rp")) == 1


def test_find_queries_a_retained_generation(spark, tmp_path):
    """Time travel composes with the MQL/date query surface: find
    against a retained generation applies the same predicates to the
    snapshot's directories."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), keep_generations=2)
    eng.upsert("fg", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
               stamped=True)
    eng.upsert("fg", _objs(spark, [(1, 11)], "2014-02-01"), stamped=True)
    old, new = eng.generations("fg")[1], eng.generations("fg")[0]
    assert eng.count("fg", generation=old) == 2
    assert eng.count("fg", generation=new) == 2
    assert eng.find_scalar("fg", query="_oid == 1", fields="col_1",
                           generation=old) == 10
    assert eng.find_scalar("fg", query="_oid == 1", fields="col_1",
                           generation=new) == 11
    assert eng.count("fg", date="~", generation=old) == 2
    assert eng.count("fg", date="~", generation=new) == 3


def test_vacuum_sweeps_stranded_dirs(spark, engine, monkeypatch):
    """A crash after the data write, before the flip, strands unreferenced
    directories; vacuum removes them on demand without a commit, and
    never touches retained ones."""
    import os

    engine.upsert("vac", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    orig = Engine._manifest_flip

    def boom(self, path, old_raw, gen, dirs, history=None, stats=None, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(Engine, "_manifest_flip", boom)
    with pytest.raises(RuntimeError):
        engine.upsert("vac", _objs(spark, [(1, 11)], "2014-02-01"),
                      stamped=True)
    monkeypatch.setattr(Engine, "_manifest_flip", orig)

    path = engine._path("vac")

    def batch_dirs():
        out = set()
        for root, dirs, _ in os.walk(path):
            for d in dirs:
                if d.startswith("__batch="):
                    out.add(os.path.join(root, d))
        return out

    before = batch_dirs()
    live = set(engine._manifest(path)["dirs"])
    assert len(before) > len(live)        # stranded dirs exist
    engine.vacuum("vac")
    after = batch_dirs()
    assert len(after) == len(live)
    # cube still reads the committed generation
    assert engine.count("vac", date="~") == 1


def test_vacuum_sweeps_crashed_first_write(spark, engine, monkeypatch):
    """The docstring's own example: a bulk import into a NEW cube
    crashes before the gen-1 flip — vacuum must reclaim the stranded
    directories (nothing is committed), and the cube stays creatable."""
    import os

    orig = Engine._manifest_flip

    def boom(self, path, old_raw, gen, dirs, history=None, stats=None, **kw):
        raise RuntimeError("injected crash")

    monkeypatch.setattr(Engine, "_manifest_flip", boom)
    with pytest.raises(RuntimeError):
        engine.upsert("vfw", _objs(spark, [(1, 10)], "2014-01-01"),
                      stamped=True)
    monkeypatch.setattr(Engine, "_manifest_flip", orig)
    path = engine._path("vfw")
    assert any(d.startswith("_current=") for d in os.listdir(path))
    engine.vacuum("vfw")
    assert not any(d.startswith("_current=") for d in os.listdir(path))
    engine.upsert("vfw", _objs(spark, [(1, 10)], "2014-01-01"),
                  stamped=True)
    assert engine.count("vfw") == 1


def test_generation_on_dataframe_input_raises(spark, engine, versions):
    with pytest.raises(ValueError, match="warehouse cubes"):
        engine.count(versions, generation=1)


def test_snapshot_upsert_rewrites_only_hit_buckets(spark, tmp_path):
    """Bucket-granular snapshot upsert: a small batch into an oid-bucket
    partitioned cube merges and rewrites ONLY the open-bucket
    directories its oids hash into — every parquet file in untouched
    open buckets is byte-identical (same path, size, mtime) after the
    commit, carried forward by manifest reference. At 100 TB a wide
    current snapshot with frequent small batches otherwise pays
    O(|current|) write amplification per upsert."""
    import os

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    eng.upsert("s", _objs(spark, [(i, i) for i in range(40)],
                          "2014-01-01"), stamped=True)

    # the two incoming oids' buckets (the engine's own expression)
    hits = {r["b"] for r in spark.createDataFrame(
        [(1,), (2,)], "_oid long")
        .select(Engine._obucket(8).alias("b")).collect()}

    def snapshot():
        out = {}
        root = os.path.join(eng._path("s"), "_current=true")
        for dirpath, _, files in os.walk(root):
            for f in files:
                p = os.path.join(dirpath, f)
                st = os.stat(p)
                out[p] = (st.st_size, st.st_mtime_ns)
        return out

    before = snapshot()
    eng.upsert("s", _objs(spark, [(1, 101), (2, 102)], "2014-02-01"),
               stamped=True)
    after = snapshot()
    untouched = {p: v for p, v in before.items()
                 if not any(f"__obucket={b}/" in p + "/" or
                            f"__obucket={b}{os.sep}" in p
                            for b in hits)}
    assert untouched  # the fixture really has untouched buckets
    for p, v in untouched.items():
        assert after.get(p) == v, f"untouched open file rewritten: {p}"
    # hit buckets DID move to fresh generation-scoped dirs
    assert any("__batch=open-g2" in p for p in after)

    # semantics unchanged: 40 current rows, oids 1-2 updated with their
    # old versions closed at the batch start
    assert eng.count("s") == 40
    assert eng.count("s", date="~") == 42
    assert eng.find("s", "_oid == 1").first()["col_1"] == 101
    closed = eng.find("s", "_oid == 2", date="~").where(
        F.col("_end").isNotNull()).collect()
    assert len(closed) == 1 and closed[0]["col_1"] == 2

    # a third upsert hits again: untouched buckets still carry the
    # ORIGINAL gen-1 files (multi-generation carry-forward)
    eng.upsert("s", _objs(spark, [(1, 201)], "2014-03-01"), stamped=True)
    after3 = snapshot()
    for p, v in untouched.items():
        assert after3.get(p) == v
    assert eng.find("s", "_oid == 1").first()["col_1"] == 201
    assert eng.count("s", date="~") == 43


def test_snapshot_upsert_bucket_granular_with_evolution(spark, tmp_path):
    """Schema evolution composes with the bucket-granular merge: a batch
    that widens the schema rewrites only its hit buckets; carried-forward
    open files lack the new column physically but the manifest schema
    reads them back as typed nulls."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    eng.upsert("e", _objs(spark, [(i, i) for i in range(20)],
                          "2014-01-01"), stamped=True)
    wide = stamp(spark.createDataFrame([(3, 300, "x")],
                                       "oid long, col_1 long, extra string"),
                 oid="oid", start=F.to_timestamp(F.lit("2014-02-01")))
    eng.upsert("e", wide, stamped=True)
    cur = eng.find("e", fields=["col_1", "extra"])
    assert cur.count() == 20
    vals = {r["_oid"]: r["extra"] for r in cur.collect()}
    assert vals[3] == "x"
    assert all(v is None for o, v in vals.items() if o != 3)
    # and the closed version of oid 3 reads extra as null too
    old3 = eng.find("e", "_oid == 3", date="~").where(
        F.col("_end").isNotNull()).first()
    assert old3["extra"] is None and old3["col_1"] == 3


def test_lock_wait_second_writer_succeeds_after_release(spark, tmp_path):
    """Engine(lock_wait=N): a second legitimate writer WAITS for the
    lease (bounded retry + backoff) instead of failing fast — it
    acquires and commits once the first writer releases. The default
    (lock_wait=0) keeps fail-fast ConcurrentWriteError."""
    import threading

    from metrique_spark.engine import ConcurrentWriteError
    from metrique_spark.fs import LeaseLock, LocalFS

    wh = str(tmp_path / "wh")
    eng = Engine(spark, warehouse=wh, lock_wait=60.0)
    eng.upsert("c", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)

    fs = LocalFS()
    lease = LeaseLock(fs, fs.join(wh, ".c.lock"))
    lease.acquire()  # a live same-pid holder: cannot be reclaimed
    threading.Timer(2.0, lease.release).start()
    eng.upsert("c", _objs(spark, [(2, 20)], "2014-02-01"),
               stamped=True)  # waits ~2s, then commits
    assert eng.count("c") == 2

    # fail-fast default unchanged
    lease2 = LeaseLock(fs, fs.join(wh, ".c.lock"))
    lease2.acquire()
    try:
        ff = Engine(spark, warehouse=wh)
        with pytest.raises(ConcurrentWriteError, match="locked"):
            ff.upsert("c", _objs(spark, [(3, 30)], "2014-03-01"),
                      stamped=True)
    finally:
        lease2.release()


def test_snapshot_upsert_open_read_prunes_to_hit_buckets(
        spark, tmp_path, monkeypatch):
    """The bucket-granular merge must PRUNE THE SCAN, not just the
    rewrite: the open-rows frame fed into the snapshot merge reads files
    from the hit buckets only (executed-plan check via
    input_file_name — at 100 TB the read cost of the merge rides the
    batch's bucket coverage, not the snapshot width)."""
    from metrique_spark import upsert as ups

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    eng.upsert("p", _objs(spark, [(i, i) for i in range(40)],
                          "2014-01-01"), stamped=True)
    hits = {r["b"] for r in spark.createDataFrame(
        [(1,), (2,)], "_oid long")
        .select(Engine._obucket(8).alias("b")).collect()}
    seen = {}
    real = ups.snapshot_merge_tagged

    def spy(open_rows, incoming):
        seen["files"] = [r[0] for r in open_rows.select(
            F.input_file_name().alias("f")).distinct().collect()]
        return real(open_rows, incoming)

    def spy2(open_rows, incoming):
        from metrique_spark.plans import audit

        seen["pf"] = " ".join(audit.partition_filters(
            audit.static_plan(open_rows)))
        return spy(open_rows, incoming)

    monkeypatch.setattr(ups, "snapshot_merge_tagged", spy2)
    eng.upsert("p", _objs(spark, [(1, 101), (2, 102)], "2014-02-01"),
               stamped=True)
    assert seen["files"]  # the merge really read the open snapshot
    for f in seen["files"]:
        assert any(f"__obucket={b}/" in f for b in hits), f
        assert "_current=true" in f, f  # closed history never read
    # plan-level proof (input_file_name only shows files of SURVIVING
    # rows): the scan carries PartitionFilters on _current and
    # __obucket, so non-hit directories are skipped before any file
    # opens
    assert "_current" in seen["pf"] and "__obucket" in seen["pf"], seen


def test_upsert_records_open_dir_min_start_stats(spark, tmp_path):
    """Snapshot upserts record min(_start) stats for the OPEN
    directories they write (inserts always did): open-bucket dirs carry
    forward across bucket-granular commits, and the recorded stat lets
    an as-of read skip open buckets whose rows all started after the
    probe date."""
    import json

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    eng.upsert("st", _objs(spark, [(1, 10)], "2014-01-01"), stamped=True)
    eng.upsert("st", _objs(spark, [(1, 11)], "2014-06-01"), stamped=True)
    meta = eng._manifest(eng._path("st"))  # assembled from segments
    ms = meta["stats"]["min_start"]
    open_stats = {d: v for d, v in ms.items()
                  if d.startswith("_current=true")}
    assert open_stats, ms
    assert any(v.startswith("2014-06-01") for v in open_stats.values())
    # and the stat actually prunes: an as-of read before the open dir's
    # min_start drops it at manifest resolution
    kept = eng._prune_by_end_stats(
        meta, list(meta["dirs"]), None,
        "2014-02-01 00:00:00.000000")
    assert all(not d.startswith("_current=true") for d in kept), kept
    # correctness unchanged: the as-of probe sees the old version
    assert eng.find_one("st", date="2014-02-01")["col_1"] == 10
