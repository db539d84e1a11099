"""Incremental N→2N doubling rebucket (``rebucket(incremental=True)``):
the metadata-only start, union-of-moduli pruning through the mixed
state, opportunistic migration by every rewriting commit, byte-bounded
``rebucket_step`` drains, completion (the manifest root's count),
the full-rebucket escape hatch, and the layout-format fence.
The crash sweep lives in test_fault_injection.test_fault_sweep_doubling_
migration; the sf0.01 oracle entry is ``upsert_rebucket_incr_disk``."""

import json

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp

def _snap(spark, eng, cube, items, start):
    df = spark.createDataFrame(items, "oid long, val long")
    eng.upsert(cube, stamp(
        df, oid="oid", start=F.to_timestamp(F.lit(start))), stamped=True)


def _rows(eng, cube, **kw):
    return sorted(
        (r["_oid"], r["val"], str(r["_start"])[:10],
         str(r["_end"])[:10] if r["_end"] is not None else "")
        for r in eng.find(cube, fields="val", date="~", **kw).collect())


def _man(eng, cube):
    return eng._manifest(eng._path(cube))


def _root(eng, cube):
    """The raw manifest root: the only record of the bucket count."""
    return json.loads(eng.fs.read_text(
        eng.fs.join(eng._path(cube), "_manifest.json")))


def _lay(eng, cube):
    """The layout the manifest root records."""
    return _root(eng, cube)["layout"]


@pytest.fixture()
def eng(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                  keep_generations=2)


def test_start_is_metadata_only_and_validated(spark, eng):
    _snap(spark, eng, "m", [(i, i) for i in range(24)], "2014-01-01")
    before = _rows(eng, "m")
    dirs_before = set(_man(eng, "m")["dirs"])
    with pytest.raises(ValueError, match="DOUBLING"):
        eng.rebucket("m", 12, incremental=True)
    with pytest.raises(ValueError, match="DOUBLING"):
        eng.rebucket("m", 16, incremental=True)
    eng.rebucket("m", 8, incremental=True)
    m = _man(eng, "m")
    # same directories, zero data movement — only the manifest moved
    assert set(m["dirs"]) == dirs_before
    assert m["oid_buckets"] == 8
    assert [b["from"] for b in m["migration"]] == [4]
    assert set(m["migration"][0]["old_dirs"]) == dirs_before
    assert _rows(eng, "m") == before
    # idempotent re-start; a NON-doubling target still refuses (a
    # doubling one now CHAINS — see test_chained_doublings)
    eng.rebucket("m", 8, incremental=True)
    with pytest.raises(ValueError, match="DOUBLING"):
        eng.rebucket("m", 32, incremental=True)
    # the root carries the format fence from the first write and the
    # live count (its layout none), the retained generations their own
    lay = _lay(eng, "m")
    assert lay["keep_generations"] == 2 and "oid_buckets" not in lay
    root = _root(eng, "m")
    assert root["format"] == 7 and root["oid_buckets"] == 8
    assert [h["oid_buckets"] for h in root["history"]] == [4]


def test_union_prune_point_lookup_mixed_state(spark, eng):
    """Mid-migration point lookups must prune under BOTH moduli (a row
    can live in an old-modulus dir at hash%N or a migrated one at
    hash%2N) and still hit the scan's PartitionFilters."""
    _snap(spark, eng, "m", [(i, i) for i in range(40)], "2014-01-01")
    eng.rebucket("m", 8, incremental=True)
    # migrate part of the cube so both vintages exist
    st = eng.rebucket_step("m", max_dirs=2)
    assert 0 < st["migrated_dirs"] <= 2 and not st["done"]
    assert _man(eng, "m")["migration"] is not None
    for probe in ([7], [11, 23], list(range(0, 40, 7))):
        q = eng.find("m", oids=probe, date="~")
        assert sorted(r["_oid"] for r in q.collect()) == sorted(probe)
    # pick a probe whose bucket value DIFFERS under the two moduli, so
    # the plan visibly carries both (pure single-modulus pruning could
    # never produce the other value)
    probe = next(o for o in range(40)
                 if len(eng._oid_bucket_values([o], [8, 4])) == 2)
    vals = eng._oid_bucket_values([probe], [8, 4])
    q = eng.find("m", oids=[probe], date="~")
    plan = q._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)[-1][:400]
    assert "__obucket" in seg
    for v in vals:
        assert str(v) in seg, (probe, vals, seg)
    assert [r["_oid"] for r in q.collect()] == [probe]
    # the MQL-literal prune takes the same union path
    assert eng.count("m", query="_oid == 7", date="~") == 1
    assert eng.count("m", query="_oid in [3, 11]", date="~") == 2


def test_merges_and_compact_migrate_opportunistically(spark, eng):
    _snap(spark, eng, "m", [(i, i) for i in range(40)], "2014-01-01")
    _snap(spark, eng, "m", [(i, i + 1) for i in range(0, 40, 2)],
          "2014-02-01")
    eng.rebucket("m", 8, incremental=True)
    n0 = len(_man(eng, "m")["migration"][0]["old_dirs"])
    # a snapshot merge rewrites (and thereby migrates) the hit open dirs
    _snap(spark, eng, "m", [(i, i + 2) for i in range(0, 40, 5)],
          "2014-03-01")
    m = _man(eng, "m")
    n1 = len(m["migration"][0]["old_dirs"])
    assert n1 < n0
    assert set(m["migration"][0]["old_dirs"]) <= set(m["dirs"])
    # a history import replaces through the mixed state correctly
    hist = spark.createDataFrame(
        [(3, 300, "2013-01-01", "2014-01-01"),
         (3, 301, "2014-01-01", None)],
        "oid long, val long, s string, e string")
    eng.upsert("m", stamp(hist, oid="oid", start="s", end="e"),
               autosnap=False, stamped=True)
    assert [r[1] for r in _rows(eng, "m", oids=[3])] == [300, 301]
    # a full compact migrates every merged closed dir
    eng.compact("m", small_bytes=None)
    m = _man(eng, "m")
    mig = m.get("migration")
    # whatever closed dirs merged are gone from old_dirs
    if mig:
        old = {d for b in mig for d in b["old_dirs"]}
        assert all(d.startswith("_current=") for d in old)
        assert old <= set(m["dirs"])


def test_step_drains_and_completion_records_root_count(spark, eng):
    _snap(spark, eng, "m", [(i, i) for i in range(40)], "2014-01-01")
    _snap(spark, eng, "m", [(i, i + 1) for i in range(0, 40, 3)],
          "2014-02-01")
    before = _rows(eng, "m")
    eng.rebucket("m", 8, incremental=True)
    d = eng.describe("m")
    assert d["migration"]["from"] == [4]
    assert d["migration"]["pending_dirs"] > 0
    assert d["migration"]["pending_bytes"] > 0
    steps = 0
    while True:
        st = eng.rebucket_step("m", max_dirs=2)
        steps += 1
        assert st["migrated_dirs"] <= 2
        if st["done"]:
            break
        assert steps < 50
    assert steps >= 2  # genuinely incremental
    m = _man(eng, "m")
    assert m.get("migration") is None and m["oid_buckets"] == 8
    lay = _lay(eng, "m")
    assert _root(eng, "m")["oid_buckets"] == 8
    assert _root(eng, "m")["format"] == 7
    assert "oid_buckets" not in lay
    assert _rows(eng, "m") == before  # physical-only, content invariant
    assert "migration" not in eng.describe("m")
    # a later writer merges under the new modulus cleanly
    _snap(spark, eng, "m", [(1, 99)], "2014-03-01")
    assert _rows(eng, "m", oids=[1])[-1][1] == 99
    # step on a finished cube is a cheap no-op
    assert eng.rebucket_step("m")["done"]


def test_step_respects_byte_budget(spark, eng):
    _snap(spark, eng, "m", [(i, i) for i in range(40)], "2014-01-01")
    eng.rebucket("m", 8, incremental=True)
    sizes = (_man(eng, "m").get("stats") or {}).get("bytes") or {}
    assert sizes  # manifest-recorded, no listing needed
    # budget below any single dir: exactly one dir migrates per step
    st = eng.rebucket_step("m", max_bytes=1)
    assert st["migrated_dirs"] == 1 and st["migrated_bytes"] > 1


def test_time_travel_into_mixed_generation(spark, eng):
    _snap(spark, eng, "m", [(i, i) for i in range(40)], "2014-01-01")
    eng.rebucket("m", 8, incremental=True)
    eng.rebucket_step("m", max_dirs=1)
    g_mixed = _man(eng, "m")["gen"]
    eng.rebucket_step("m")  # finish
    # the retained mixed generation still point-lookups correctly
    # (its history entry carries the migration state for union pruning)
    hist = _man(eng, "m")["history"]
    entry = next(h for h in hist if h["gen"] == g_mixed)
    assert entry["oid_buckets"] == 8
    assert entry["moduli"] == [4]
    got = sorted(r["_oid"] for r in
                 eng.find("m", oids=[7, 23], generation=g_mixed,
                          date="~").collect())
    assert got == [7, 23]


def test_full_rebucket_escapes_migration(spark, eng):
    _snap(spark, eng, "m", [(i, i) for i in range(24)], "2014-01-01")
    before = _rows(eng, "m")
    eng.rebucket("m", 8, incremental=True)
    eng.rebucket("m", 8)  # full rewrite finishes it in one pass
    m = _man(eng, "m")
    assert m.get("migration") is None and m["oid_buckets"] == 8
    assert _rows(eng, "m") == before
    assert _root(eng, "m")["oid_buckets"] == 8
    assert "oid_buckets" not in _lay(eng, "m")


def test_layout_format_fence_refuses_future_semantics(spark, eng):
    """A root written by a newer engine (format above 6) raises the
    upgrade error on reads and writes, and the writer leaves it as it
    is."""
    _snap(spark, eng, "m", [(1, 1)], "2014-01-01")
    p = eng.fs.join(eng._path("m"), "_manifest.json")
    root = json.loads(eng.fs.read_text(p))
    root["format"] = 99
    eng.fs.write_text(p, json.dumps(root))
    with pytest.raises(RuntimeError, match="format 99.*upgrade the engine"):
        eng.find("m", oids=[1]).collect()
    with pytest.raises(RuntimeError, match="format 99.*upgrade the engine"):
        _snap(spark, eng, "m", [(2, 2)], "2014-02-01")
    assert json.loads(eng.fs.read_text(p)) == root


def test_migration_on_timepartitioned_cube_and_objectstore(spark,
                                                           tmp_path):
    """The doubling migration must compose with the ``__stime``
    sublevel (relpaths gain a third segment; bucket identification and
    the rewrite's period recomputation both survive) and run unchanged
    on the rename-free object-store backend."""
    from metrique_spark.fs import ObjectStoreFS

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 time_partition="month", fs=ObjectStoreFS())
    df1 = spark.createDataFrame(
        [(i, i, f"2014-0{1 + i % 3}-15") for i in range(30)],
        "oid long, val long, s string")
    eng.upsert("m", stamp(df1, oid="oid", start="s"), stamped=True)
    df2 = spark.createDataFrame(
        [(i, i + 100, "2014-05-01") for i in range(0, 30, 3)],
        "oid long, val long, s string")
    eng.upsert("m", stamp(df2, oid="oid", start="s"), stamped=True)
    before = _rows(eng, "m")
    eng.rebucket("m", 8, incremental=True)
    m = _man(eng, "m")
    assert all("/__stime=" in d or "/__batch=" in d
               for d in m["migration"][0]["old_dirs"])
    # merge + step through the mixed, period-partitioned layout
    df3 = spark.createDataFrame(
        [(5, 999, "2014-06-01")], "oid long, val long, s string")
    eng.upsert("m", stamp(df3, oid="oid", start="s"), stamped=True)
    st = eng.rebucket_step("m", max_dirs=3)
    assert st["migrated_dirs"] >= 1
    while not eng.rebucket_step("m")["done"]:
        pass
    after = _rows(eng, "m")
    # content invariant except the oid-5 update applied mid-migration
    changed = {r for r in after if r not in before}
    assert all(r[0] == 5 for r in changed)
    assert eng.count("m", query="_oid == 5") == 1
    assert _man(eng, "m").get("migration") is None
    got = sorted(r["_oid"] for r in eng.find("m", oids=[5, 17]).collect())
    assert got == [5, 17]


def test_chained_doublings_three_moduli(spark, eng):
    """A second doubling may START while the first still drains:
    directories already stamped keep their older modulus, the rest
    stamp at the pre-doubling live count, and point lookups union-
    prune under all THREE moduli (PartitionFilters pin). Drains and
    opportunistic merges retire stamps per block; completion converges
    the sidecar to the final count."""
    _snap(spark, eng, "m", [(i, i) for i in range(48)], "2014-01-01")
    before = _rows(eng, "m")
    eng.rebucket("m", 8, incremental=True)
    # migrate a couple of dirs so modulus-8 directories exist too
    st = eng.rebucket_step("m", max_dirs=2)
    assert 0 < st["migrated_dirs"] <= 2 and not st["done"]
    # chained second doubling: metadata-only, no refusal
    eng.rebucket("m", 16, incremental=True)
    m = _man(eng, "m")
    assert m["oid_buckets"] == 16
    froms = [b["from"] for b in m["migration"]]
    assert froms == [4, 8]
    # stamps partition the bucketed dirs: modulus-4 originals + the
    # step's modulus-8 rewrites; nothing is double-stamped
    o4 = set(m["migration"][0]["old_dirs"])
    o8 = set(m["migration"][1]["old_dirs"])
    assert o4 and o8 and not (o4 & o8)
    assert (o4 | o8) <= set(m["dirs"])
    # describe reports the union
    d = eng.describe("m")
    assert d["migration"]["from"] == [4, 8]
    assert d["migration"]["pending_dirs"] == len(o4 | o8)
    assert "rebucket_recommended" not in d  # action already in flight
    # point lookups stay exact through the triple-modulus state, and
    # the plan carries all three bucket values for a probe whose value
    # differs under every modulus
    for probe in ([7], [11, 23], list(range(0, 48, 7))):
        q = eng.find("m", oids=probe, date="~")
        assert sorted(r["_oid"] for r in q.collect()) == sorted(probe)
    probe = next(o for o in range(48)
                 if len(eng._oid_bucket_values([o], [16, 8, 4])) == 3)
    vals = eng._oid_bucket_values([probe], [16, 8, 4])
    q = eng.find("m", oids=[probe], date="~")
    plan = q._jdf.queryExecution().executedPlan().toString()
    seg = plan.split("PartitionFilters", 1)[-1][:400]
    assert "__obucket" in seg
    for v in vals:
        assert str(v) in seg, (probe, vals, seg)
    assert [r["_oid"] for r in q.collect()] == [probe]
    # a snapshot merge mid-chain migrates whatever it touches, from
    # EITHER old block, to the live modulus
    _snap(spark, eng, "m", [(i, i + 2) for i in range(0, 48, 5)],
          "2014-02-01")
    m2 = _man(eng, "m")
    left = {d for b in (m2.get("migration") or [])
            for d in b["old_dirs"]}
    assert left < (o4 | o8)
    # drain everything; the root's count is 16
    while not eng.rebucket_step("m", max_dirs=3)["done"]:
        pass
    m3 = _man(eng, "m")
    assert m3.get("migration") is None and m3["oid_buckets"] == 16
    assert _root(eng, "m")["oid_buckets"] == 16
    assert "oid_buckets" not in _lay(eng, "m")
    # content invariant except the mid-chain merge's updates
    changed = {r for r in _rows(eng, "m") if r not in before}
    assert all(r[0] % 5 == 0 for r in changed)
    assert eng.count("m", date="~") == 48 + len(range(0, 48, 5))


def test_segmented_manifest_commit_touches_only_hit_segments(
        spark, tmp_path):
    """Format-4 manifests: with more buckets than one segment spans, a
    trickle commit must rewrite only the segment files covering its
    hit buckets (plus the root) — the per-commit manifest-bytes bound
    that replaced the monolithic rewrite."""
    import os

    eng = Engine(spark, warehouse=str(tmp_path / "wh"),
                 oid_buckets=256)
    _snap(spark, eng, "m", [(i, i) for i in range(2000)], "2014-01-01")
    segdir = eng.fs.join(eng._path("m"), "_manifest_seg")
    before = {f: os.path.getmtime(os.path.join(segdir, f))
              for f in os.listdir(segdir)}
    assert len(before) >= 3, "premise: several bucket-range segments"
    _snap(spark, eng, "m", [(1, 99)], "2014-02-01")
    after = set(os.listdir(segdir))
    fresh = after - set(before)
    # the single-oid commit wrote at most a couple of fresh segments
    # (its bucket's range, plus nothing else)
    assert 1 <= len(fresh) <= 2, fresh
    carried = after & set(before)
    assert carried, "unchanged ranges must carry forward by reference"
    root = json.loads(eng.fs.read_text(
        eng.fs.join(eng._path("m"), "_manifest.json")))
    assert set(root["segs"].values()) == after
    # reads stay exact
    assert eng.count("m") == 2000
    assert eng.find("m", oids=[1]).first()["_oid"] == 1
