"""The swept-generation reader race: a reader resolves the manifest
pointer, a concurrent commit flips it and sweeps the old generation's
directories, and the reader's scan then hits deleted files. The engine's
materializing readers must re-resolve the manifest ONCE and return
exactly the new committed generation — never a mixed or stale-partial
result, and never an error for a single race. A second miss fails loud.
"""

import json

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine, _is_swept_read_error
from metrique_spark.objects import stamp


def _objs(spark, rows, start):
    df = spark.createDataFrame(rows, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"))


def _gen1_then_gen2(spark, engine, cube="c"):
    """Commit gen 1, capture its manifest, commit gen 2 (which sweeps
    gen 1's directories under keep_generations=0). Returns the stale
    gen-1 snapshot. Batch 2 re-upserts EVERY gen-1 oid: the bucket-granular
    merge carries untouched open buckets forward by reference, and this
    race fixture needs every gen-1 directory really gone."""
    engine.upsert(cube, _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
                  stamped=True)
    path = engine._path(cube)
    # capture the stale snapshot with its manifest ASSEMBLED (the
    # segmented root alone has no dirs list, and gen 1's segment files
    # are about to be swept too — it stands in for a reader that
    # resolved everything before the flip)
    stale = engine._resolve(path)
    assert stale.dirs
    engine.upsert(cube, _objs(spark, [(1, 11), (2, 21), (3, 30)],
                              "2014-02-01"), stamped=True)
    # the race must be real: every gen-1 directory is gone
    live = set(engine._manifest(path)["dirs"])
    assert not (set(stale.dirs) & live)
    for d in stale.dirs:
        assert not engine.fs.isdir(engine.fs.join(path, d))
    return stale


def _gen1_root_then_gen2(spark, engine, cube="r"):
    """Like _gen1_then_gen2 but captures the stale ROOT sidecar dict —
    what the metadata-only count resolves (its rollup answers without
    loading segments, so even a root whose segment files were since
    swept yields its committed totals)."""
    engine.upsert(cube, _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
                  stamped=True)
    path = engine._path(cube)
    stale_root = engine._manifest_root(path)
    engine.upsert(cube, _objs(spark, [(1, 11), (2, 21), (3, 30)],
                              "2014-02-01"), stamped=True)
    return stale_root


def test_plan_time_race_retries_to_new_generation(spark, engine,
                                                  monkeypatch):
    # reader resolves the OLD pointer, scan planning then hits the swept
    # directories -> _read_raw re-resolves once and reads gen 2 exactly
    stale = _gen1_then_gen2(spark, engine)
    real = engine._resolve
    calls = {"n": 0}

    def stale_first(path, *a, **kw):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(path, *a, **kw)

    # unfiltered count is metadata-only: it answers from the resolved
    # (stale) pointer's ROOT rollup — a consistent committed snapshot,
    # zero file/segment reads, so there is no race to retry
    assert engine.count("c") == 3
    stale_root = _gen1_root_then_gen2(spark, engine)
    real_root = engine._manifest_root
    rcalls = {"n": 0}

    def stale_root_first(path, raw=None):
        rcalls["n"] += 1
        return stale_root if rcalls["n"] == 1 else real_root(path, raw)

    monkeypatch.setattr(engine, "_manifest_root", stale_root_first)
    assert engine.count("r") == 2          # gen 1's committed count
    monkeypatch.setattr(engine, "_manifest_root", real_root)
    monkeypatch.setattr(engine, "_resolve", stale_first)
    calls["n"] = 0
    # a FILTERED count must scan: stale resolution hits the swept files
    # -> re-resolve once and read gen 2 exactly
    assert engine.count("c", "_oid >= 0") == 3
    assert calls["n"] >= 2                 # the retry actually re-resolved


def test_execution_time_race_retries_to_new_generation(spark, tmp_path,
                                                       monkeypatch):
    # plan built while gen 1's files exist; a commit+sweep lands before
    # the tasks read them -> executor FileNotFound -> engine-level retry
    # rebuilds from the fresh pointer
    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.upsert("c", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
               stamped=True)
    real_scoped = eng._scoped
    state = {"raced": False}

    def racing_scoped(*a, **kw):
        df = real_scoped(*a, **kw)
        if not state["raced"]:
            state["raced"] = True
            writer = Engine(spark, warehouse=str(tmp_path / "wh"))
            writer.upsert("c", _objs(spark, [(1, 11), (3, 30)],
                                     "2014-02-01"), stamped=True)
        return df

    monkeypatch.setattr(eng, "_scoped", racing_scoped)
    # filtered: the scan path (unfiltered would answer from metadata
    # without ever building a plan for the race to bite)
    assert eng.count("c", "_oid >= 0") == 3


def test_find_one_retries(spark, engine, monkeypatch):
    stale = _gen1_then_gen2(spark, engine)
    real = engine._resolve
    calls = {"n": 0}

    def stale_first(path, *a, **kw):
        calls["n"] += 1
        return stale if calls["n"] == 1 else real(path, *a, **kw)

    monkeypatch.setattr(engine, "_resolve", stale_first)
    # unpruned, so the stale snapshot's scan hits gen 1's swept
    # directories (``_oid == 3`` would prune gen 1 to no directory at
    # all and answer gen 1 consistently: oid 3 did not exist yet)
    row = engine.find_one("c", query="col_1 == 30")
    assert row is not None and row["col_1"] == 30


def test_second_miss_fails_loud(spark, engine, monkeypatch):
    # a manifest that KEEPS naming missing directories is a broken cube,
    # not the race — one retry, then the error propagates
    stale = _gen1_then_gen2(spark, engine)
    monkeypatch.setattr(engine, "_resolve", lambda path, *a, **kw: stale)
    with pytest.raises(Exception) as ei:
        engine.count("c", "_oid >= 0")  # filtered: must actually scan
    assert _is_swept_read_error(ei.value)


def test_non_race_errors_propagate(spark, engine):
    engine.upsert("c", _objs(spark, [(1, 10)], "2014-01-01"),
                  stamped=True)
    # unknown generation is a user error: no retry loop, clear message
    with pytest.raises(ValueError, match="expired or unknown"):
        engine.count("c", generation=99)


if __name__ == "__main__":
    import sys

    sys.exit(pytest.main([__file__, "-q"]))


def test_ts_bound_normalization_and_slack():
    """The stat-prune bound arithmetic: years are 4-digit padded (glibc
    %Y is not), and the ±26h DST/offset slack keeps directories within
    the wall-clock ambiguity window."""
    from metrique_spark.engine import _norm_ts_bound, _shift_ts_bound

    assert _norm_ts_bound("0999-12-31") == "0999-12-31 00:00:00.000000"
    assert _norm_ts_bound("2014-02-01T10:30") == \
        "2014-02-01 10:30:00.000000"
    assert _norm_ts_bound("2014-02-01T10:00:00+02:00") is None  # tz-aware
    assert _norm_ts_bound("not a date") is None
    b = _norm_ts_bound("2014-11-02 01:45:00")
    assert _shift_ts_bound(b, -26) == "2014-10-31 23:45:00.000000"
    assert _shift_ts_bound(b, 26) == "2014-11-03 03:45:00.000000"


def test_prune_respects_dst_slack(spark, tmp_path):
    """A closed dir whose max(_end) is within 26h of the bound is KEPT
    (wall-clock/instant orderings can disagree there); beyond the slack
    it is pruned."""
    from metrique_spark.engine import Engine

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.upsert("s", _objs(spark, [(1, 10)], "2014-01-01 00:00:00"),
               stamped=True)
    eng.upsert("s", _objs(spark, [(1, 11)], "2014-01-05 00:00:00"),
               stamped=True)  # closes v1 at jan 5
    meta = eng._manifest(eng._path("s"))
    me = meta["stats"]["max_end"]
    [closed] = [d for d in me]
    # probe 20h after the close: inside the slack -> dir kept
    kept = eng._prune_by_end_stats(
        meta, list(meta["dirs"]), "2014-01-05 20:00:00.000000")
    assert closed in kept
    # probe 3 days after: outside the slack -> dir pruned
    kept2 = eng._prune_by_end_stats(
        meta, list(meta["dirs"]), "2014-01-08 00:00:00.000000")
    assert closed not in kept2
