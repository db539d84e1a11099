"""Model-based storage-layer fuzz: a seeded-random sequence of snapshot
upserts, history replaces, SCHEMA EVOLUTIONS, compactions and vacuums
runs against a cube (time-partitioned, bucketed, retention on) AND a
driver-side reference model of the temporal-versioning semantics; after
every mutation the cube's find() must equal the model under current /
all-history / as-of probes, and every retained generation must time-
travel to exactly the model state (and schema width) at its commit.
Catches cross-feature interaction bugs (merge × bounded replace ×
manifest generations × period partitioning × per-generation schemas)
no single-feature test composes.

Row content is modeled as a DICT, mirroring the engine's hash contract:
``objects.hash_sql`` is sha1 over ``to_json(struct(...))`` and ``to_json``
OMITS null fields — so a post-evolution row with ``col_2 = NULL`` is
hash-equal to a pre-evolution row with the same ``col_1`` (a same-state
snapshot stays a no-op across the widening), while any non-null
``col_2`` closes the old version. The model drops ``None`` values from
its dicts to encode exactly that."""

import random

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp


def _snap_batch(spark, items, start, wide):
    """items: list of (oid, content dict). ``wide`` adds col_2 to the
    batch frame (None where the dict lacks it)."""
    if wide:
        rows = [(o, c.get("col_1"), c.get("col_2")) for o, c in items]
        df = spark.createDataFrame(rows, "oid long, col_1 long, col_2 long")
    else:
        rows = [(o, c.get("col_1")) for o, c in items]
        df = spark.createDataFrame(rows, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


def _hist_batch(spark, rows, wide):
    """rows: (oid, content dict, s, e)."""
    if wide:
        flat = [(o, c.get("col_1"), c.get("col_2"), s, e)
                for o, c, s, e in rows]
        df = spark.createDataFrame(
            flat, "oid long, col_1 long, col_2 long, s string, e string")
    else:
        flat = [(o, c.get("col_1"), s, e) for o, c, s, e in rows]
        df = spark.createDataFrame(
            flat, "oid long, col_1 long, s string, e string")
    return stamp(df, oid="oid", start="s", end="e")


def _null_low(t):
    """Total order over row tuples with a nullable col_2 (None sorts
    below every int — Python refuses None < int natively)."""
    return (t[0], t[1], t[2] is not None, t[2] or 0, t[3], t[4])


class _Model:
    """Reference semantics: snapshot merge closes a changed open version
    at the incoming start (same-CONTENT incoming is a no-op — content
    compared as null-stripped dicts, matching the engine's to_json
    hash); history replace drops every version of the incoming oids and
    unions the supplied history; evolution only widens what reads
    surface (old rows read the new column as None); compact/vacuum are
    storage-only."""

    def __init__(self):
        self.versions: list[dict] = []

    @staticmethod
    def _strip(content: dict) -> dict:
        return {k: v for k, v in content.items() if v is not None}

    def snapshot(self, items, start):
        for oid, content in items:
            content = self._strip(content)
            cur = next((v for v in self.versions
                        if v["oid"] == oid and v["end"] is None), None)
            if cur is not None:
                if cur["content"] == content:
                    continue
                cur["end"] = start
            self.versions.append(
                dict(oid=oid, content=content, start=start, end=None))

    def replace(self, rows):
        oids = {r[0] for r in rows}
        self.versions = [v for v in self.versions if v["oid"] not in oids]
        for oid, content, s, e in rows:
            self.versions.append(dict(oid=oid, content=self._strip(content),
                                      start=s, end=e))

    def rows(self, date):
        if date is None:
            sel = [v for v in self.versions if v["end"] is None]
        elif date == "~":
            sel = self.versions
        else:
            sel = [v for v in self.versions
                   if v["start"] < date
                   and (v["end"] is None or v["end"] >= date)]
        return sorted(((v["oid"], v["content"].get("col_1"),
                        v["content"].get("col_2"),
                        v["start"], v["end"] or "")
                       for v in sel), key=_null_low)


def _cube_rows(eng, cube, date, generation=None):
    # pre-evolution generations have no col_2 — read it as uniform None
    # (exactly what the live manifest schema back-fills post-evolution)
    has2 = "col_2" in eng.table(cube, generation=generation).columns
    df = eng.find(cube, date=date,
                  fields="col_1,col_2" if has2 else "col_1",
                  generation=generation)
    c2 = F.col("col_2") if has2 else F.lit(None).cast("long")
    out = df.select(
        "_oid", "col_1", c2.alias("col_2"),
        F.date_format("_start", "yyyy-MM-dd").alias("s"),
        F.coalesce(F.date_format("_end", "yyyy-MM-dd"), F.lit(""))
        .alias("e"))
    return sorted(map(tuple, out.collect()), key=_null_low)


@pytest.mark.slow
def test_random_op_sequence_matches_model(spark, tmp_path):
    rng = random.Random(20260815)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 time_partition="month", keep_generations=2)
    model = _Model()
    oids = list(range(1, 13))
    cube = "mdl"

    def date_of(step, offset=0):
        m = (step + offset) % 12 + 1
        y = 2014 + (step + offset) // 12
        return f"{y}-{m:02d}-{rng.randint(1, 28):02d}"

    first = True
    evolved = False
    ev_step = rng.randint(4, 8)   # the widening lands mid-sequence
    import copy

    gen_states: dict[int, list] = {}   # engine gen -> model snapshot
    for step in range(18):
        op = rng.choice(["snap", "snap", "snap", "replace", "compact",
                         "vacuum", "rebucket", "rebucket_incr",
                         "rebucket_step"])
        if first:
            op = "snap"
        if step == ev_step:
            op = "snap"            # forced evolving batch below
        if op == "snap":
            wide = evolved or step == ev_step
            items = []
            for o in sorted(rng.sample(oids, rng.randint(1, 6))):
                content = {"col_1": rng.randint(0, 3) * 100 + o}
                if wide:
                    # None col_2 sometimes: exercises the to_json-omits-
                    # null hash equivalence across the evolution boundary
                    content["col_2"] = rng.choice(
                        [None, rng.randint(1, 4) * 10])
                items.append((o, content))
            start = date_of(step)
            eng.upsert(cube, _snap_batch(spark, items, start, wide),
                       stamped=True)
            model.snapshot(items, start)
            first = False
            if wide:
                evolved = True
        elif op == "replace":
            oid = rng.choice(oids)
            n = rng.randint(1, 3)
            # post-evolution replaces stay NARROW half the time: a
            # col_1-only history batch into the widened cube must
            # null-fill, not error or shrink the schema
            wide = evolved and rng.random() < 0.5
            starts = sorted({date_of(step, -k) for k in range(n, 0, -1)})
            rows = []
            for vi, s in enumerate(starts):
                e = (starts[vi + 1] if vi + 1 < len(starts)
                     else (None if rng.random() < 0.6 else date_of(step)))
                if e is not None and e <= s:
                    e = None
                content = {"col_1": 1000 + vi}
                if wide:
                    content["col_2"] = rng.choice([None, 5000 + vi])
                rows.append((oid, content, s, e))
            eng.upsert(cube, _hist_batch(spark, rows, wide),
                       autosnap=False, stamped=True)
            model.replace(rows)
        elif op == "compact":
            # randomize the tier threshold: None = full consolidation,
            # 1 = everything is a "large" level (merges only at the
            # similar-size quorum), default = engine threshold (test
            # data is all small → trickle merge) — and the clustering:
            # unsorted, range-sorted, or Morton (zorder). Whatever the
            # tier or curve does, content must be invariant —
            # compaction is physical.
            sort_by, cluster = rng.choice(
                [(None, "range"), (["_start"], "range"),
                 (["col_1", "_start"], "zorder")])
            eng.compact(cube, sort_by=sort_by, cluster=cluster,
                        small_bytes=rng.choice(
                            [None, 1, eng.compact_small_bytes]))
        elif op == "rebucket":
            # bucket-count migration is physical-only: content (and
            # every probe below, incl. time travel to pre-rebucket
            # generations, which must prune with THEIR count) invariant.
            # Mid-doubling-migration this is the escape hatch: the full
            # rewrite finishes the migration in one pass.
            eng.rebucket(cube, rng.choice([2, 4, 8]))
        elif op == "rebucket_incr":
            # doubling-migration start (metadata-only): later random
            # snaps/replaces/compacts then run against the MIXED-modulus
            # layout and every probe below must stay model-exact.
            # Starts CHAIN: a second doubling may begin while the first
            # still drains (three+ moduli coexist), capped here so the
            # fuzz can't double the count into the thousands.
            meta = eng._manifest(eng._path(cube))
            if meta is not None and meta["oid_buckets"] <= 32:
                eng.rebucket(cube, 2 * meta["oid_buckets"],
                             incremental=True)
        elif op == "rebucket_step":
            # bounded background drain (no-op without a migration)
            eng.rebucket_step(cube, max_dirs=rng.choice([1, 2, None]))
        else:
            eng.vacuum(cube)

        # record the model state for the engine's CURRENT generation
        gens = eng.generations(cube)
        if gens:
            gen_states[gens[0]] = copy.deepcopy(model.versions)

        probes = [None, "~", date_of(rng.randrange(14))]
        for date in probes:
            assert _cube_rows(eng, cube, date) == model.rows(date), (
                step, op, date)
        # the metadata-only count (manifest row stats, zero file reads)
        # must agree with the model after EVERY op interleaving
        assert eng.count(cube) == len(model.rows(None)), (step, op)
        assert eng.count(cube, date="~") == len(model.versions), (
            step, op)
        # concurrent-read probe: a reader whose resolved generation has
        # been fully swept by a later commit must retry onto the live
        # pointer and read exactly the current model — never error,
        # never mix generations (see Engine._retry_swept / _read_raw)
        if step % 4 == 2:
            real_resolve = eng._resolve
            # a resolved snapshot whose generation names a directory a
            # later commit swept (bucket count and schema kept)
            swept = real_resolve(eng._path(cube))
            swept.entry = dict(swept.manifest,
                               dirs=["_current=true/__batch=__swept__"])
            calls = {"n": 0}

            def stale_first(path, *a, _r=real_resolve, _c=calls, **kw):
                _c["n"] += 1
                return swept if _c["n"] == 1 else _r(path, *a, **kw)

            eng._resolve = stale_first
            try:
                # filtered: the scan path (unfiltered count answers
                # from metadata and never builds a plan to race)
                got = eng.count(cube, "col_1 >= 0", date="~")
            finally:
                eng._resolve = real_resolve
            assert got == len(model.versions), (step, op, "swept-read")
        # time travel: every RETAINED generation must read exactly the
        # model state at its commit — including its OWN schema width
        # (a pre-evolution generation reads without col_2; _cube_rows
        # normalizes it to None for the compare)
        for g in gens:
            if g not in gen_states:
                continue
            snap = _Model()
            snap.versions = gen_states[g]
            assert _cube_rows(eng, cube, "~", generation=g) == \
                snap.rows("~"), (step, op, "gen", g)


@pytest.mark.slow
def test_index_lifecycle_op_sequence_matches_model(spark, tmp_path):
    """Index-lifecycle fuzz: a seeded-random sequence of snapshot
    upserts, fully/partially-closing history replaces, index builds
    (random family, sometimes auto_refresh), refreshes, index
    compactions, cube compactions and vacuums runs against a vector
    cube AND a driver-side model of the live (oid -> vector) set. After
    every step: the staleness flag must equal the generation
    bookkeeping's truth, a stale index must refuse to search, a fresh
    one must return exactly min(k, |live|) neighbors, and after any
    build/refresh (or ANY commit when auto_refresh is on) the index's
    physical id set must equal the live corpus exactly — no duplicates,
    no ghosts of replaced oids. Exercises staleness × retention ×
    bucket-granular merge × intent-protocol interactions no
    single-feature test composes."""
    import json

    rng = random.Random(20260816)
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 keep_generations=2, auto_compact_index_batches=3)
    cube, name, dim = "vmdl", "fx", 8
    oids = list(range(1, 11))
    live: dict[int, tuple] = {}
    built = None  # (kind, auto)

    def _vec():
        return [round(rng.uniform(-1.0, 1.0), 6) for _ in range(dim)]

    def _snap(items, day):
        df = spark.createDataFrame(
            [(o, v) for o, v in items],
            "oid long, embedding array<double>")
        return stamp(df, oid="oid",
                     start=F.to_timestamp(F.lit(day)), sort_arrays=False)

    def _day(step):
        return f"2015-{step % 12 + 1:02d}-{rng.randint(1, 28):02d}"

    # first write
    init = [(o, _vec()) for o in oids[:6]]
    eng.upsert(cube, _snap(init, "2015-01-01"), stamped=True)
    live.update({o: tuple(v) for o, v in init})

    def _index_ids():
        apath = eng._ann_path(cube, name)
        kind = built[0]
        if kind == "ivf":
            rows = spark.read.parquet(apath + "/vectors").select(
                "_oid").collect()
        else:
            rows = spark.read.parquet(apath + "/codes").select(
                "_oid").collect()
        return [r["_oid"] for r in rows]

    for step in range(16):
        op = rng.choice(["snap", "snap", "replace", "build", "refresh",
                         "compact_ix", "vacuum", "compact"])
        if built is None and op in ("refresh", "compact_ix"):
            op = "build"
        day = _day(step)
        if op == "snap":
            items = [(o, _vec())
                     for o in sorted(rng.sample(oids, rng.randint(1, 4)))]
            eng.upsert(cube, _snap(items, day), stamped=True)
            live.update({o: tuple(v) for o, v in items})
        elif op == "replace":
            o = rng.choice(oids)
            v1, v2 = _vec(), _vec()
            close_all = rng.random() < 0.4
            rows = [(o, v1, "2014-01-01", "2014-06-01"),
                    (o, v2, "2014-06-01", day if close_all else None)]
            df = spark.createDataFrame(
                rows, "oid long, embedding array<double>, "
                      "s string, e string")
            eng.upsert(cube, stamp(df, oid="oid", start="s", end="e",
                                   sort_arrays=False),
                       autosnap=False, stamped=True)
            if close_all:
                live.pop(o, None)
            else:
                live[o] = tuple(v2)
        elif op == "build":
            kind = rng.choice(["ivf", "sq8", "pq", "ivfpq"])
            auto = rng.random() < 0.5
            kw = {"ivf": dict(nlist=4), "sq8": {},
                  "pq": dict(m=4, k=8),
                  "ivfpq": dict(nlist=4, m=4, k=8)}[kind]
            eng.build_vector_index(cube, name, vec_col="embedding",
                                   kind=kind, auto_refresh=auto, **kw)
            built = (kind, auto)
        elif op == "refresh":
            res = eng.refresh_vector_index(cube, name)
            assert res["gen"] == eng.generations(cube)[0]
        elif op == "compact_ix":
            # randomized tier threshold: full / everything-large /
            # default — physical-only under every tier choice
            eng.compact_vector_index(cube, name, small_bytes=rng.choice(
                [None, 1, eng.compact_small_bytes]))
        elif op == "vacuum":
            eng.vacuum(cube)
        else:
            eng.compact(cube, small_bytes=rng.choice(
                [None, 1, eng.compact_small_bytes]))

        # invariants
        live_gen = eng.generations(cube)[0]
        if built is not None:
            ix = eng.vector_index_list(cube)[name]
            assert ix["stale"] == (ix["gen"] != live_gen), (step, op)
            assert not ix.get("refreshing"), (step, op)
            if built[1]:  # auto_refresh: never stale after any commit
                assert not ix["stale"], (step, op)
            q = spark.createDataFrame(
                [(0, [0.1] * dim)], "_oid long, embedding array<double>")
            if ix["stale"]:
                with pytest.raises(ValueError, match="generation"):
                    eng.vector_search(cube, name, q, k=3)
            else:
                got = eng.vector_search(cube, name, q, k=3, nprobe=4)
                assert got.count() == min(3, len(live)), (step, op)
                # physical content: exactly one row per live oid
                ids = _index_ids()
                assert sorted(ids) == sorted(set(ids)), (step, op)
                assert set(ids) == set(live), (step, op)
                # and for raw-vector layouts, the vectors themselves
                if built[0] == "ivf":
                    stored = {(r["_oid"], tuple(r["v"]))
                              for r in spark.read.parquet(
                                  eng._ann_path(cube, name) + "/vectors")
                              .select("_oid", "v").collect()}
                    assert stored == {(o, v) for o, v in live.items()}, (
                        step, op)
        # the cube itself still matches the model's live set
        cur = {(r["_oid"], tuple(r["embedding"])) for r in
               eng.find(cube, fields="embedding").collect()}
        assert cur == {(o, v) for o, v in live.items()}, (step, op)
