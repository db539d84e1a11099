"""Time-partitioned cube layout: ``__stime`` period directories derived
from ``_start`` so date-spec reads partition-prune instead of scanning
every closed-version file (the 100 TB concern: an as-of query must not
touch history periods its ``_start < U`` bound excludes)."""

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp
from metrique_spark.plans import audit


@pytest.fixture()
def engine(spark, tmp_path):
    return Engine(spark, warehouse=str(tmp_path / "wh"),
                  time_partition="month")


def _files_read(df):
    """Distinct files the query ACTUALLY reads at execution time —
    ``inputFiles()`` lists the relation's whole file index, ignoring
    partition pruning, so it cannot prove a prune happened."""
    return [r[0] for r in df.select(
        F.input_file_name().alias("f")).distinct().collect()]


def _objs(spark, rows, start):
    df = spark.createDataFrame(rows, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


def _hist(spark, rows):
    df = spark.createDataFrame(rows, "oid long, col_1 long, s string, e string")
    return stamp(df, oid="oid", start="s", end="e")


def _build(engine, spark, cube="tp"):
    engine.upsert(cube, _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
                  stamped=True)
    engine.upsert(cube, _objs(spark, [(1, 11), (2, 20)], "2014-02-01"),
                  stamped=True)
    engine.upsert(cube, _objs(spark, [(1, 12), (3, 30)], "2014-03-01"),
                  stamped=True)
    return cube


def test_lifecycle_matches_unpartitioned(spark, tmp_path):
    tp = Engine(spark, warehouse=str(tmp_path / "a"), time_partition="month")
    plain = Engine(spark, warehouse=str(tmp_path / "b"))
    for e in (tp, plain):
        _build(e, spark)
    for date in (None, "~", "2014-01-15", "2014-02-15", "~2014-02-10",
                 "2014-01-10~2014-02-20", "2014-02-10~"):
        a = sorted(map(tuple, tp.find(
            "tp", date=date, fields="col_1").collect()))
        b = sorted(map(tuple, plain.find(
            "tp", date=date, fields="col_1").collect()))
        assert a == b, date
        assert tp.count("tp", date=date) == plain.count("tp", date=date)


def test_layout_has_period_dirs(spark, engine, tmp_path):
    _build(engine, spark)
    import os

    stimes = set()
    for root, dirs, _ in os.walk(str(tmp_path / "wh" / "tp")):
        for d in dirs:
            if d.startswith("__stime="):
                stimes.add(d)
    assert "__stime=2014-01" in stimes
    # closed rows of the jan batch were closed with feb/march _start?
    # no: __stime derives from _start, so versions STARTED in jan stay
    # in the jan period even after being closed
    assert stimes >= {"__stime=2014-01", "__stime=2014-02",
                      "__stime=2014-03"}


def test_asof_plan_prunes_periods(spark, engine):
    _build(engine, spark)
    df = engine.find("tp", date="2014-01-20")
    plan = audit.executed_plan(df)
    pf = " ".join(audit.partition_filters(plan))
    assert "__stime" in pf
    # the scan must not read any file from a period after period(U)
    assert not any("__stime=2014-02" in f or "__stime=2014-03" in f
                   for f in _files_read(df)), _files_read(df)
    # and the result is still date-exact
    assert {(r["_oid"], r["col_1"]) for r in df.collect()} == {
        (1, 10), (2, 20)}


def test_current_only_plan_prunes_history(spark, engine):
    _build(engine, spark)
    df = engine.find("tp")  # date=None -> current versions only
    plan = audit.executed_plan(df)
    pf = " ".join(audit.partition_filters(plan))
    assert "_current" in pf
    assert all("_current=true" in f for f in _files_read(df))
    assert df.count() == 3


def test_range_query_prunes_upper_periods(spark, engine):
    _build(engine, spark)
    df = engine.find("tp", date="2014-01-10~2014-02-10")
    assert not any("__stime=2014-03" in f for f in _files_read(df))
    # open-lower range has no _start bound -> no __stime prune, and
    # results still correct
    assert engine.count("tp", date="2014-02-10~") == 4


def test_history_replace_on_timepart_cube(spark, engine):
    _build(engine, spark)
    rows = [
        (1, 1, "2013-06-01", "2014-06-01"),
        (1, 2, "2014-06-01", None),
    ]
    engine.upsert("tp", _hist(spark, rows), autosnap=False, stamped=True)
    # oid 1's history fully replaced; oids 2,3 untouched
    assert engine.count("tp", query="_oid == 1", date="~") == 2
    assert engine.find_scalar(
        "tp", query="_oid == 1", date="2013-12-01", fields="col_1") == 1
    assert engine.count("tp", query="_oid == 2", date="~") == 1
    assert engine.count("tp", date="~") == 2 + 1 + 1


def test_compact_preserves_periods(spark, engine):
    _build(engine, spark)
    before = engine.count("tp", date="~")
    asof = sorted(map(tuple, engine.find(
        "tp", date="2014-01-15", fields="col_1").collect()))
    engine.compact("tp")
    assert engine.count("tp", date="~") == before
    df = engine.find("tp", date="2014-01-15", fields="col_1")
    assert sorted(map(tuple, df.collect())) == asof
    # pruning still works post-compact
    assert not any("__stime=2014-03" in f for f in _files_read(df))


def test_point_lookup_combines_bucket_and_period_prunes(spark, engine):
    _build(engine, spark)
    df = engine.find("tp", oids=[1], date="2014-01-20")
    plan = audit.executed_plan(df)
    pf = " ".join(audit.partition_filters(plan))
    assert "__obucket" in pf and "__stime" in pf
    assert [r["col_1"] for r in df.collect()] == [10]


def test_writer_timezone_mismatch_raises(spark, engine):
    _build(engine, spark)
    tz = spark.conf.get("spark.sql.session.timeZone")
    spark.conf.set("spark.sql.session.timeZone", "America/New_York")
    try:
        with pytest.raises(RuntimeError, match="timezone"):
            engine.upsert("tp", _objs(spark, [(9, 90)], "2014-04-01"),
                          stamped=True)
        # reader skips the prune but stays correct
        assert engine.count("tp", date="~") == 5
    finally:
        spark.conf.set("spark.sql.session.timeZone", tz)


def test_null_start_rejected(spark, engine):
    df = spark.createDataFrame([(1, 10)], "oid long, col_1 long")
    obj = stamp(df, oid="oid").withColumn(
        "_start", F.lit(None).cast("timestamp"))
    with pytest.raises(ValueError, match="_start"):
        engine.upsert("nulltp", obj, stamped=True)


def test_year_granularity(spark, tmp_path):
    e = Engine(spark, warehouse=str(tmp_path / "wh"), time_partition="year")
    e.upsert("y", _hist(spark, [
        (1, 1, "2012-01-01", "2013-01-01"),
        (1, 2, "2013-01-01", None),
        (2, 5, "2013-03-01", None),
    ]), stamped=True)
    df = e.find("y", date="2012-06-01")
    assert not any("__stime=2013" in f for f in _files_read(df))
    assert [r["col_1"] for r in df.collect()] == [1]


def test_bad_granularity_rejected(spark, tmp_path):
    with pytest.raises(ValueError, match="time_partition"):
        Engine(spark, warehouse=str(tmp_path / "wh"), time_partition="day")


def test_fuzz_date_specs_pruned_equals_unpruned(spark, tmp_path):
    """Property: for RANDOM date specs, a time-partitioned cube's
    find/count equals the identical un-partitioned cube's — the prune
    is an optimization, never a semantics change. Seeded so failures
    reproduce."""
    import random

    rng = random.Random(1307)
    tp = Engine(spark, warehouse=str(tmp_path / "a"), time_partition="month")
    plain = Engine(spark, warehouse=str(tmp_path / "b"))
    rows, start_months = [], ["2013-11", "2013-12"] + [
        f"2014-{m:02d}" for m in range(1, 13)]
    hist = []
    for oid in range(1, 25):
        months = sorted(rng.sample(range(len(start_months)), 3))
        for vi, mi in enumerate(months):
            s = f"{start_months[mi]}-{rng.randint(1, 28):02d}"
            e = (None if vi == len(months) - 1 and rng.random() < 0.7
                 else f"{start_months[min(mi + 1, len(start_months) - 1)]}-28")
            hist.append((oid, oid * 100 + vi, s, e))
    obj = _hist(spark, hist)
    tp.upsert("fz", obj, autosnap=False, stamped=True)
    plain.upsert("fz", obj, autosnap=False, stamped=True)

    def rand_date(rng):
        def d():
            return (f"2014-{rng.randint(1, 12):02d}-"
                    f"{rng.randint(1, 28):02d}")
        kind = rng.randrange(6)
        if kind == 0:
            return None
        if kind == 1:
            return "~"
        if kind == 2:
            return d()
        if kind == 3:
            return f"{d()}~"
        if kind == 4:
            return f"~{d()}"
        lo, hi = sorted([d(), d()])
        return f"{lo}~{hi}"

    for _ in range(25):
        date = rand_date(rng)
        a = sorted(map(tuple, tp.find(
            "fz", date=date, fields="col_1").collect()))
        b = sorted(map(tuple, plain.find(
            "fz", date=date, fields="col_1").collect()))
        assert a == b, date


def _build_long(engine, spark, cube="lh"):
    """Four monthly snapshots -> three closed version batches whose
    max(_end) ascends month by month."""
    for m, val in [("2014-01-01", 10), ("2014-02-01", 11),
                   ("2014-03-01", 12), ("2014-04-01", 13)]:
        engine.upsert(cube, _objs(spark, [(1, val), (2, 20)], m),
                      stamped=True)
    return cube


def test_asof_skips_closed_dirs_ended_before_probe(spark, engine):
    """The as-of LOWER bound: closed directories whose recorded
    max(_end) precedes the probe date are skipped at manifest
    resolution — the __stime prune alone (start-derived) would still
    read every older period."""
    _build_long(engine, spark)
    meta = engine._manifest(engine._path("lh"))
    stats = (meta.get("stats") or {}).get("max_end") or {}
    assert stats, "commit should have recorded per-dir max(_end) stats"
    assert all(d.startswith("_current=false") for d in stats)

    df = engine.find("lh", date="2014-03-15")
    files = _files_read(df)
    # versions started in jan/feb all ended by 2014-03-01 < probe:
    # their closed directories must not be touched at all
    assert not any("_current=false" in f and
                   ("__stime=2014-01" in f or "__stime=2014-02" in f)
                   for f in files), files
    # ...while the march closed dir (ends 2014-04-01 >= probe) is read
    assert any("_current=false" in f and "__stime=2014-03" in f
               for f in files)
    assert {(r["_oid"], r["col_1"]) for r in df.collect()} == {
        (1, 12), (2, 20)}


def test_end_stats_prune_works_without_timepart(spark, tmp_path):
    """The stats prune is per-directory, not per-period: an
    UN-partitioned manifested cube's per-upsert closed batches skip the
    same way."""
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    _build_long(e, spark)
    df = e.find("lh", date="2014-03-15")
    meta = e._manifest(e._path("lh"))
    stats = (meta.get("stats") or {}).get("max_end") or {}
    probe = "2014-03-15 00:00:00.000000"
    dead = {d for d, v in stats.items() if v < probe}
    assert dead, "some closed batches should end before the probe"
    files = _files_read(df)
    assert not any(d in f for d in dead for f in files), (dead, files)
    assert {(r["_oid"], r["col_1"]) for r in df.collect()} == {
        (1, 12), (2, 20)}


def test_since_spec_uses_end_stats(spark, engine):
    _build_long(engine, spark)
    # 'd~' (everything alive at or after d) has the same _end lower bound
    df = engine.find("lh", date="2014-03-15~")
    files = _files_read(df)
    assert not any("_current=false" in f and "__stime=2014-01" in f
                   for f in files)
    assert engine.count("lh", date="2014-03-15~") == 3  # (1,12),(1,13),(2,20)


def test_end_stats_survive_compact(spark, engine):
    _build_long(engine, spark)
    engine.compact("lh")
    meta = engine._manifest(engine._path("lh"))
    stats = (meta.get("stats") or {}).get("max_end") or {}
    live_closed = {d for d in meta["dirs"]
                   if d.startswith("_current=false")}
    assert live_closed and live_closed <= set(stats)
    df = engine.find("lh", date="2014-03-15")
    assert {(r["_oid"], r["col_1"]) for r in df.collect()} == {
        (1, 12), (2, 20)}


def test_start_upper_bound_prunes_dirs_without_timepart(spark, tmp_path):
    """'~d' bounds _start from above: directories whose min(_start)
    stat is already past the bound are skipped at manifest resolution —
    on a plain (non-__stime) manifested cube, where no partition key
    could express this."""
    e = Engine(spark, warehouse=str(tmp_path / "wh"))
    _build_long(e, spark)
    meta = e._manifest(e._path("lh"))
    ms = (meta.get("stats") or {}).get("min_start") or {}
    assert ms, "commit should have recorded per-dir min(_start) stats"
    bound = "2014-01-15 00:00:00.000000"
    dead = {d for d, v in ms.items() if v >= bound}
    assert dead, "later-started dirs should exist"
    df = e.find("lh", date="~2014-01-15")
    files = _files_read(df)
    assert not any(d in f for d in dead for f in files), (dead, files)
    assert {(r["_oid"], r["col_1"]) for r in df.collect()} == {
        (1, 10), (2, 20)}
