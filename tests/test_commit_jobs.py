"""Spark-job budget of a trickle commit, an insert and compaction, and
the driver→JVM round-trip budget of a commit, a stamp and a point
lookup.

A commit of a handful of objects is dominated by fixed per-job cost, not
data volume, so the number of Spark jobs it runs is the figure to hold.
A warm trickle upsert runs four: the batch checkpoint, whose job also
carries the probe (validation, autosnap, hit buckets) as observed
metrics, the merge checkpoint, one stats-and-token aggregate and one
partitioned write. Its inputs fit one partition, so neither the merge
join nor the aggregate has a shuffle whose map stage AQE would run as a
job of its own. An insert runs the checkpoint, the aggregate and the
write; compaction the same three. The engine names each of these jobs
``<op>:<action>`` and leaves the caller's job description and group as
it found them. Building those plans costs Py4J round trips — one per
Dataset or Column call — so their count is held too.
Also pins the token format of the content-keyed closed batch against a
plain global aggregate."""

import contextlib
import gc
import itertools
import time

import pytest
from pyspark.sql import functions as F
from pyspark.sql.types import StructType

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp
from metrique_spark.xxh64 import obucket_of

_groups = itertools.count()


def _jobs(spark, fn):
    """Run ``fn`` under a fresh job group; return (result, job count)."""
    sc = spark.sparkContext
    group = f"commit-jobs-{next(_groups)}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


@contextlib.contextmanager
def _round_trips(spark):
    """Count the Py4J commands sent while the block runs, one round trip
    each: yields a list whose single item is the count. Deletes of JVM
    objects Python freed are sent by py4j's finalizer thread, so its
    queue is drained before the block (earlier garbage is not the
    block's) and after it (the block's garbage is)."""
    from py4j.clientserver import ClientServerConnection

    client = spark.sparkContext._gateway._gateway_client

    def drain():
        gc.collect()
        while client.finalizer_deque:
            time.sleep(0.01)

    real = ClientServerConnection.send_command
    n = [0]

    def counting(self, command):
        n[0] += 1
        return real(self, command)

    drain()
    ClientServerConnection.send_command = counting
    try:
        yield n
        drain()
    finally:
        ClientServerConnection.send_command = real


def _objs(spark, rows, start):
    df = spark.createDataFrame(rows, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


def test_trickle_upsert_and_compact_job_budget(spark, tmp_path):
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    eng.upsert("c", _objs(spark, [(i, i) for i in range(64)],
                          "2024-01-01"), stamped=True)
    # warm-up merge: the counted commit is not the cube's first merge
    eng.upsert("c", _objs(spark, [(1, 101)], "2024-01-02"), stamped=True)

    batch = _objs(spark, [(2, 102), (3, 103), (100, 1)], "2024-01-03")
    batch = batch.localCheckpoint(eager=True)
    _, n = _jobs(spark, lambda: eng.upsert("c", batch, stamped=True))
    assert n <= 5, f"trickle upsert ran {n} Spark jobs"

    assert eng.count("c") == 65
    assert eng.count("c", date="~") == 68
    assert eng.count("c", "_end != None", date="~") == 3
    row = eng.find("c", oids=[3]).collect()
    assert [r["col_1"] for r in row] == [103]

    removed, n = _jobs(spark, lambda: eng.compact("c"))
    assert removed >= 1
    assert n <= 3, f"compact ran {n} Spark jobs"
    assert eng.count("c") == 65
    assert eng.count("c", "_end != None", date="~") == 3

    # warm insert: checkpoint (carrying validation), aggregate, write
    eng.insert("c", _objs(spark, [(200, 1)], "2024-01-04"), stamped=True)
    batch = _objs(spark, [(201, 1), (202, 2)], "2024-01-05")
    batch = batch.localCheckpoint(eager=True)
    _, n = _jobs(spark, lambda: eng.insert("c", batch, stamped=True))
    assert n <= 3, f"insert ran {n} Spark jobs"
    assert eng.count("c") == 68


def test_commit_jobs_are_named_and_the_callers_names_restored(spark,
                                                              tmp_path):
    """Every job a warm trickle upsert, an insert and a compaction run
    under a caller's job group carries the ``<op>:<action>`` description
    of its step, read back from the status store (which the listener
    fills with the UI off too). After each op, after a commit that
    raises a validation error and after one whose checkpoint job fails,
    the caller's description and group are back in place."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    eng.upsert("c", _objs(spark, [(i, i) for i in range(64)],
                          "2024-01-01"), stamped=True)
    eng.upsert("c", _objs(spark, [(1, 101)], "2024-01-02"), stamped=True)
    eng.insert("c", _objs(spark, [(200, 1)], "2024-01-02"), stamped=True)
    upsert = _objs(spark, [(2, 102), (3, 103), (100, 1)],
                   "2024-01-03").localCheckpoint(eager=True)
    insert = _objs(spark, [(201, 1), (202, 2)],
                   "2024-01-04").localCheckpoint(eager=True)
    bad = stamp(spark.createDataFrame([(1, 1), (None, 2)],
                                      "oid long, col_1 long"),
                oid="oid", start=F.to_timestamp(F.lit("2024-01-05")))
    failing = upsert.withColumn(
        "col_1", F.expr("CAST(raise_error('boom') AS BIGINT)"))

    sc = spark.sparkContext
    jsc = sc._jsc.sc()
    group = f"commit-jobs-{next(_groups)}"
    seen: set[int] = set()

    def names_since_last():
        jsc.listenerBus().waitUntilEmpty(10_000)
        new = set(sc.statusTracker().getJobIdsForGroup(group)) - seen
        seen.update(new)
        out = []
        for j in sorted(new):
            d = jsc.statusStore().job(j).description()
            out.append(d.get() if d.isDefined() else None)
        return out

    def callers_in_place():
        return (sc.getLocalProperty("spark.job.description"),
                sc.getLocalProperty("spark.jobGroup.id")) == ("caller",
                                                              group)

    sc.setJobGroup(group, "caller")
    try:
        for op, fn, actions in [
                ("upsert", lambda: eng.upsert("c", upsert, stamped=True),
                 ["checkpoint", "merge", "stats", "write"]),
                ("insert", lambda: eng.insert("c", insert, stamped=True),
                 ["checkpoint", "stats", "write"]),
                ("compact", lambda: eng.compact("c"),
                 ["checkpoint", "stats", "write"])]:
            fn()
            assert callers_in_place(), op
            assert names_since_last() == [f"{op}:{a}" for a in actions]
        with pytest.raises(ValueError, match="null _oid"):
            eng.upsert("c", bad, stamped=True)
        assert callers_in_place()
        assert names_since_last() == ["upsert:checkpoint"]
        with pytest.raises(Exception, match="boom"):
            eng.upsert("c", failing, stamped=True)
        assert callers_in_place()
        assert names_since_last() == ["upsert:checkpoint"]
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert eng.count("c") == 68


def test_trickle_commit_stamp_and_lookup_round_trips(spark, tmp_path):
    """A warm trickle upsert, a stamp and a warm point lookup build their
    plans from a few cached expressions: their Py4J round trips, py4j's
    deletes of the JVM objects they free included, stay within a fixed
    budget."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4)
    eng.upsert("c", _objs(spark, [(i, i) for i in range(64)],
                          "2024-01-01"), stamped=True)
    eng.upsert("c", _objs(spark, [(1, 101)], "2024-01-02"), stamped=True)
    eng.upsert("c", _objs(spark, [(5, 105)], "2024-01-03"), stamped=True)

    batch = _objs(spark, [(2, 102), (3, 103), (100, 1)], "2024-01-04")
    batch = batch.localCheckpoint(eager=True)
    with _round_trips(spark) as n:
        eng.upsert("c", batch, stamped=True)
    assert n[0] <= 400, f"trickle upsert made {n[0]} round trips"

    df = spark.createDataFrame([(1, 2), (2, 3), (3, 4)],
                               "oid long, col_1 long")
    start = F.to_timestamp(F.lit("2024-01-05"))
    with _round_trips(spark) as n:
        stamped = stamp(df, oid="oid", start=start)
    assert n[0] <= 40, f"stamp made {n[0]} round trips"
    assert [r["_id"] for r in stamped.orderBy("_oid").collect()] == \
        ["1", "2", "3"]

    lookups = {"oids": lambda: eng.find("c", oids=[3]).collect(),
               "mql": lambda: eng.find("c", "_oid == 3").collect()}
    for name, fn in lookups.items():
        fn()  # warm: manifest and expression caches filled
        with _round_trips(spark) as n:
            rows = fn()
        assert n[0] <= 60, f"{name} lookup made {n[0]} round trips"
        assert [r["col_1"] for r in rows] == [103], name

    # a lookup whose literal hashes only into a bucket no write created
    # reads no directory and still carries the manifest schema
    eng.upsert("one", _objs(spark, [(0, 1)], "2024-01-01"), stamped=True)
    miss = next(o for o in range(1, 100)
                if obucket_of(o, 4) != obucket_of(0, 4))
    eng.find("one", oids=[miss]).collect()
    with _round_trips(spark) as n:
        frame = eng.find("one", oids=[miss])
        rows = frame.collect()
    assert n[0] <= 60, f"empty-bucket lookup made {n[0]} round trips"
    assert rows == []
    hit = eng.find("one", oids=[0])
    assert hit.count() == 1 and frame.schema == hit.schema
    schema = eng._manifest(eng._path("one"))["schema"]
    assert set(frame.columns) < {f["name"] for f in schema["fields"]}
    # the read under the lookup is no parquet scan (Spark warns on one
    # over no path) but no rows under the whole manifest schema
    raw = eng._read_raw(eng._path("one"), lookup=[miss])
    assert raw.schema == StructType.fromJson(schema)
    assert raw.count() == 0
    assert "parquet" not in raw._jdf.queryExecution().analyzed().toString()
    assert eng.count("c") == 65
    assert eng.count("c", date="~") == 69


def _history(eng):
    return sorted((r["_oid"], str(r["_start"]), str(r["_end"]), r["_id"],
                   r["_hash"], r["col_1"])
                  for r in eng.find("c", date="~").collect())


def _logical_stats(eng):
    """Directory names (content tokens included) and the per-directory
    row and time stats. Byte sizes are left out: they count files, and
    the shuffled plan writes as many as AQE leaves partitions."""
    meta = eng._manifest(eng._path("c"))
    return meta["dirs"], {k: meta["stats"][k]
                          for k in ("rows", "min_start", "max_end")}


def test_large_commit_takes_shuffled_plan_with_same_result(spark, tmp_path):
    """A commit whose input exceeds
    ``spark.sql.adaptive.advisoryPartitionSizeInBytes`` keeps the
    shuffled plan — a multi-bucket upsert and a compaction then run the
    map-stage jobs the single-partition plan avoids — and lands the
    same rows, ``_id``/``_hash``, closed-batch tokens and manifest
    stats as under the default setting."""
    def run(wh):
        eng = Engine(spark, warehouse=str(wh), oid_buckets=4)
        eng.upsert("c", _objs(spark, [(i, i) for i in range(64)],
                              "2024-01-01"), stamped=True)
        eng.upsert("c", _objs(spark, [(i, i + 1) for i in range(0, 64, 3)],
                              "2024-01-02"), stamped=True)
        batch = _objs(spark, [(i, i + 2) for i in range(0, 72, 2)],
                      "2024-01-03").localCheckpoint(eager=True)
        _, n_upsert = _jobs(spark, lambda: eng.upsert("c", batch,
                                                      stamped=True))
        _, n_compact = _jobs(spark, lambda: eng.compact("c"))
        return eng, n_upsert, n_compact

    small, n_upsert, n_compact = run(tmp_path / "small")
    key = "spark.sql.adaptive.advisoryPartitionSizeInBytes"
    default = spark.conf.get(key)
    spark.conf.set(key, "1k")
    try:
        large, n_upsert_l, n_compact_l = run(tmp_path / "large")
    finally:
        spark.conf.set(key, default)
    assert (n_upsert, n_compact) == (4, 3)
    assert n_upsert_l > n_upsert and n_compact_l > n_compact
    dirs, _ = _logical_stats(small)
    assert len({d.split("/")[1] for d in dirs
                if d.startswith("_current=false")}) == 4  # every bucket
    assert _history(large) == _history(small)
    assert _logical_stats(large) == _logical_stats(small)


def test_closed_batch_token_matches_global_aggregate(spark, tmp_path):
    """The content token of a closed batch, computed per output
    directory and summed on the driver, equals one global count + sum
    of per-row xxhash64(_id, _end) — over a batch spanning several
    buckets and months, with hashes of both signs."""
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 time_partition="month")
    n_oids = 40
    eng.upsert("t", _objs(spark, [(i, i) for i in range(n_oids)],
                          "2024-01-15"), stamped=True)
    eng.upsert("t", _objs(spark, [(i, i + 1) for i in range(0, n_oids, 2)],
                          "2024-02-15"), stamped=True)
    eng.upsert("t", _objs(spark, [(i, i + 2) for i in range(n_oids)],
                          "2024-03-15"), stamped=True)
    meta = eng._manifest(eng._path("t"))
    tok_rows: dict[str, int] = {}
    tok_dirs: dict[str, int] = {}
    for d in meta["dirs"]:
        if d.startswith("_current=false"):
            t = Engine._batch_dir_token(d)
            tok_rows[t] = tok_rows.get(t, 0) + meta["stats"]["rows"][d]
            tok_dirs[t] = tok_dirs.get(t, 0) + 1
    # the third commit closed every oid: one token over 2 months x 4
    # buckets of directories
    (tok3,) = [t for t, n in tok_rows.items() if n == n_oids]
    assert tok_dirs[tok3] > 4

    rows = (eng.find("t", date="~")
            .where(F.col("_end") == F.to_timestamp(F.lit("2024-03-15"))))
    assert rows.select(F.split(F.col("_start").cast("string"), "-")[1]
                       .alias("m")).distinct().count() == 2
    h = F.xxhash64("_id", F.col("_end").cast("string"))
    ref = rows.agg(F.count(F.lit(1)).alias("n"),
                   F.sum(h.cast("decimal(38,0)")).alias("s"),
                   F.min(h).alias("lo"), F.max(h).alias("hi")).first()
    assert ref["lo"] < 0 < ref["hi"]
    assert tok3 == f"n{ref['n']}x{ref['s']}"
