"""Randomized crash-protocol fuzz: the commit/refresh/compact protocols
claim (a) readers never see a torn state, (b) a retry converges, and
(c) vacuum sweeps exactly the stranded directories. The targeted crash
tests pin single injection points; here a fault injector wraps the
control-plane FileSystem and raises before the k-th MUTATING operation,
with k swept across the whole protocol — every sidecar write, manifest
or index-root CAS and sweep delete becomes a crash point. Data-plane
parquet writes go through Spark's own Hadoop layer (not this fs), so
the sweep exercises exactly the commit-protocol state machine. Plus a
two-writer serialization fuzz: interleaved upserts from two engines
under lock_wait must equal the serial application of the commits in the
order they landed (recovered from the retained generations)."""

import json
import threading

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.fs import LocalFS, ObjectStoreFS
from metrique_spark.objects import stamp

# The sweeps are heavy (minutes each): they are opt-in via `pytest -m
# slow` so the default `pytest tests/` finishes inside its verify window;
# the default run keeps seeded samples of the ANN and stream sweeps.


class InjectedFault(RuntimeError):
    pass


class FaultFS:
    """Delegating FileSystem wrapper that raises ``InjectedFault``
    INSTEAD of performing the (budget+1)-th mutating operation — a
    process crash at that exact protocol step. Writer-lease traffic
    (``.lock`` paths) is exempt: the lease models process liveness
    (same-host pid probing reclaims a dead holder), not the commit
    protocol under test."""

    MUTATORS = frozenset({"write_text", "put_if_absent",
                          "replace_if_match", "delete_if_match",
                          "delete", "delete_dir", "makedirs"})

    def __init__(self, inner, budget: int | None):
        self._inner = inner
        self.left = budget
        self.used = 0

    def __getattr__(self, name):
        attr = getattr(self._inner, name)
        if name not in self.MUTATORS:
            return attr

        def wrapped(path, *a, **kw):
            if ".lock" not in path:
                if self.left is not None and self.left == 0:
                    raise InjectedFault(f"{name}({path})")
                if self.left is not None:
                    self.left -= 1
                self.used += 1
            return attr(path, *a, **kw)

        return wrapped


class _Model:
    """Minimal temporal-versioning reference (distinct-content batches,
    no evolution): snapshot closes a changed open version at the
    incoming start; re-applying an already-applied batch is a no-op —
    exactly the idempotence the crash-retry contract leans on."""

    def __init__(self, versions=None):
        self.versions = [dict(v) for v in (versions or [])]

    def copy(self):
        return _Model(self.versions)

    def snapshot(self, items, start):
        for oid, val in items:
            cur = next((v for v in self.versions
                        if v["oid"] == oid and v["end"] is None), None)
            if cur is not None:
                if cur["val"] == val:
                    continue
                cur["end"] = start
            self.versions.append(
                dict(oid=oid, val=val, start=start, end=None))

    def replace(self, rows):
        oids = {r[0] for r in rows}
        self.versions = [v for v in self.versions
                         if v["oid"] not in oids]
        for oid, val, s, e in rows:
            self.versions.append(dict(oid=oid, val=val, start=s, end=e))

    def apply(self, op):
        kind, payload = op
        if kind == "snap":
            self.snapshot(payload[0], payload[1])
        elif kind == "replace":
            self.replace(payload)
        # compact / vacuum / rebucket: storage-only, model unchanged

    def rows(self):
        return sorted((v["oid"], v["val"], v["start"], v["end"] or "")
                      for v in self.versions)


CUBE = "flt"
OPS = [
    ("snap", ([(1, 10), (2, 20), (3, 30)], "2014-01-01")),
    ("snap", ([(1, 11), (4, 40)], "2014-02-01")),
    ("compact", None),
    # bounded history import (the third commit protocol): replaces oid
    # 3's whole history with two closed versions + one open
    ("replace", [(3, 300, "2013-06-01", "2013-09-01"),
                 (3, 301, "2013-09-01", "2014-01-01"),
                 (3, 302, "2014-01-01", None)]),
    # bucket-count migration (physical-only), then a snap that must
    # merge correctly against the REBUCKETED layout — the sweep crosses
    # rebucket's crash points and the post-migration merge's alike
    ("rebucket", 8),
    ("snap", ([(2, 22)], "2014-03-01")),
]


def _snap_df(spark, items, start):
    df = spark.createDataFrame(items, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


def _hist_df(spark, rows):
    df = spark.createDataFrame(rows,
                               "oid long, col_1 long, s string, e string")
    return stamp(df, oid="oid", start="s", end="e")


def _do(spark, eng, op):
    kind, payload = op
    if kind == "snap":
        eng.upsert(CUBE, _snap_df(spark, *payload), stamped=True)
    elif kind == "replace":
        eng.upsert(CUBE, _hist_df(spark, payload), autosnap=False,
                   stamped=True)
    elif kind == "rebucket":
        eng.rebucket(CUBE, payload)
    elif kind == "rebucket_incr":
        eng.rebucket(CUBE, payload, incremental=True)
    elif kind == "rebucket_step":
        eng.rebucket_step(CUBE, **payload)
    else:
        eng.compact(CUBE)


def _cube_rows(spark, eng):
    if eng._manifest(eng._path(CUBE)) is None:
        return []  # nothing committed (crash before the first flip)
    return sorted(
        (r["_oid"], r["col_1"], str(r["_start"])[:10],
         str(r["_end"])[:10] if r["_end"] is not None else "")
        for r in eng.find(CUBE, fields="col_1", date="~").collect())


def _run_ops(spark, wh, budget, backend=LocalFS, ops=OPS):
    """Apply ``ops`` under a fault budget. Returns ('done', used_ops)
    or ('fault', failed_op_index, model_before_that_op).
    auto_compact_batches=1: the auto-compaction epilogue runs inside
    the upserts too, so the sweep crosses ITS crash points as well."""
    fs = FaultFS(backend(), budget)
    eng = Engine(spark, warehouse=wh, fs=fs, oid_buckets=4,
                 auto_compact_batches=1)
    model = _Model()
    for i, op in enumerate(ops):
        try:
            _do(spark, eng, op)
        except InjectedFault:
            return ("fault", i, model)
        model.apply(op)
    return ("done", fs.used, model)


def _on_disk_batch_dirs(path) -> set[str]:
    import os

    out = set()
    for root, dirs, _files in os.walk(path):
        for d in dirs:
            if d.startswith("__batch="):
                out.add(os.path.relpath(os.path.join(root, d), path))
    return out


@pytest.mark.slow
@pytest.mark.parametrize("backend", [LocalFS, ObjectStoreFS],
                         ids=["local", "objstore"])
def test_fault_sweep_cube_commit_protocol(spark, tmp_path, backend):
    """Sweep a crash across every control-plane mutation of a
    snapshot-upsert + compact sequence, on BOTH storage backends (the
    object-store emulation has no pid liveness and no O_EXCL handles —
    the protocol must not lean on either): after each crash (a) a clean
    reader sees exactly the pre-op or post-op state — never torn;
    (b) retrying the op sequence converges to the model; (c) vacuum
    leaves exactly the manifest-referenced directories on disk, and
    exactly the segment files the root and its retained entries name."""
    status, total, _ = _run_ops(spark, str(tmp_path / "clean"), None,
                                backend)
    assert status == "done" and total >= 6, "protocol mutation count"
    faulted = 0
    for k in range(total):
        wh = str(tmp_path / f"k{k}")
        res = _run_ops(spark, wh, k, backend)
        if res[0] == "done":
            continue
        faulted += 1
        _, i, model = res
        clean = Engine(spark, warehouse=wh, fs=backend(), oid_buckets=4)
        after = model.copy()
        after.apply(OPS[i])
        got = _cube_rows(spark, clean)
        assert got in (model.rows(), after.rows()), (
            k, i, "torn state visible")
        # retry converges: re-run the failed op and the rest
        for j in range(i, len(OPS)):
            _do(spark, clean, OPS[j])
            model.apply(OPS[j])
        assert _cube_rows(spark, clean) == model.rows(), (k, i, "retry")
        # vacuum sweeps exactly the stranded dirs: what remains on disk
        # is precisely the manifest's directory set
        clean.vacuum(CUBE, scratch_grace=0)
        path = clean._path(CUBE)
        meta = clean._manifest(path)
        assert _on_disk_batch_dirs(path) == set(meta["dirs"])
        assert set(clean.fs.listdir(clean.fs.join(path, "_manifest_seg"))) \
            == clean._seg_names(clean._manifest_root(path)), (k, i, "segs")
        assert _cube_rows(spark, clean) == model.rows(), (k, i, "vacuum")
    assert faulted == total  # every budget value crashed somewhere


MIG_OPS = [
    ("snap", ([(1, 10), (2, 20), (3, 30), (4, 40)], "2014-01-01")),
    # doubling-migration start (metadata-only), then every commit kind
    # against the MIXED-modulus state: a snapshot merge (migrates hit
    # open dirs), a bounded step, a history import, a compaction
    # (migrates merged closed dirs), and the finishing step
    ("rebucket_incr", 8),
    ("snap", ([(1, 11), (5, 50)], "2014-02-01")),
    ("rebucket_step", {"max_dirs": 2}),
    # CHAINED second doubling while the first still drains: the
    # commits below run against a triple-modulus (4/8/16) layout
    ("rebucket_incr", 16),
    ("replace", [(3, 300, "2013-06-01", "2014-01-01"),
                 (3, 301, "2014-01-01", None)]),
    ("compact", None),
    ("rebucket_step", {}),
]


@pytest.mark.slow
def test_fault_sweep_doubling_migration(spark, tmp_path):
    """Crash-sweep the incremental N→2N rebucket protocol: every
    control-plane mutation of a start → merge → step → import →
    compact → finish sequence becomes a crash point. After each crash
    (a) a clean reader sees exactly the pre-op or post-op content —
    the mixed-modulus state must never tear a read; (b) retrying the
    sequence converges to the model; (c) the migration invariant holds
    throughout (``old_dirs`` is always a subset of the live dirs) and
    the finished cube has no migration block, the doubled count in
    the assembled manifest and the root, and vacuum leaves exactly the
    manifest's directories."""
    status, total, _ = _run_ops(spark, str(tmp_path / "clean"), None,
                                ops=MIG_OPS)
    assert status == "done" and total >= 8
    faulted = 0
    for k in range(total):
        wh = str(tmp_path / f"k{k}")
        res = _run_ops(spark, wh, k, ops=MIG_OPS)
        if res[0] == "done":
            continue
        faulted += 1
        _, i, model = res
        clean = Engine(spark, warehouse=wh, oid_buckets=4)
        meta = clean._manifest(clean._path(CUBE))
        if meta is not None and meta.get("migration"):
            old = {d for b in meta["migration"] for d in b["old_dirs"]}
            assert old <= set(meta["dirs"]), (k, i, "old_dirs invariant")
        after = model.copy()
        after.apply(MIG_OPS[i])
        got = _cube_rows(spark, clean)
        assert got in (model.rows(), after.rows()), (
            k, i, "torn state visible")
        for j in range(i, len(MIG_OPS)):
            _do(spark, clean, MIG_OPS[j])
            model.apply(MIG_OPS[j])
        assert _cube_rows(spark, clean) == model.rows(), (k, i, "retry")
        meta = clean._manifest(clean._path(CUBE))
        assert meta.get("migration") is None, (k, i, "unfinished")
        assert meta["oid_buckets"] == 16
        import json

        root = json.loads(clean.fs.read_text(
            clean.fs.join(clean._path(CUBE), "_manifest.json")))
        assert root["oid_buckets"] == 16 and root["format"] >= 4
        assert "oid_buckets" not in root["layout"]
        # point lookup through the converged cube prunes correctly
        assert sorted(
            r["_oid"] for r in
            clean.find(CUBE, oids=[3, 5]).collect()) == [3, 5]
        clean.vacuum(CUBE, scratch_grace=0)
        assert _on_disk_batch_dirs(clean._path(CUBE)) == set(meta["dirs"])
        assert _cube_rows(spark, clean) == model.rows(), (k, i, "vacuum")
    assert faulted == total


VX, IX = "vx", "ix"
ANN_BASE = 256


def _vec_df(spark, rows, day):
    df = spark.createDataFrame(
        rows, "oid long, embedding array<double>, label int")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(day)),
                 sort_arrays=False)


def _ann_ops(kind):
    """build -> upsert -> refresh (append plus remove) twice -> tiered
    compact (threshold set between the appended batches and the base,
    see ``_ann_templates``) -> full compact. Each upsert changes one
    indexed vector and adds one id, so its refresh removes and appends."""
    kw = {"ivf": dict(nlist=2), "ivfpq": dict(nlist=2, m=4, k=4)}[kind]
    return [
        ("build", dict(kind=kind, **kw)),
        ("upsert", ([(1, [9.0] * 8, 1),
                     (999, [float(j) for j in range(8)], 1)],
                    "2014-02-01")),
        ("refresh", None),
        ("upsert", ([(2, [-9.0] * 8, 1),
                     (998, [float(7 - j) for j in range(8)], 1)],
                    "2014-03-01")),
        ("refresh", None),
        ("compact", "tiered"),
        ("compact", None),
    ]


def _ann_do(spark, eng, op, thr):
    kind, arg = op
    if kind == "build":
        eng.build_vector_index(VX, IX, vec_col="embedding", **arg)
    elif kind == "upsert":
        eng.upsert(VX, _vec_df(spark, *arg), stamped=True)
    elif kind == "refresh":
        eng.refresh_vector_index(VX, IX)
    else:
        eng.compact_vector_index(VX, IX,
                                 small_bytes=thr if arg else None)


def _ann_corpus(eng) -> set:
    return {(r["_oid"], tuple(r["embedding"]))
            for r in eng.find(VX, fields="embedding").collect()}


def _ann_templates(spark, tmp_path, kind):
    """Run the ops cleanly, snapshotting the warehouse before each one.
    Returns (templates, per-op mutation counts, corpus per committed
    cube generation, tiered-compaction threshold)."""
    import shutil

    wh = str(tmp_path / "tmpl")
    fs = FaultFS(LocalFS(), None)
    eng = Engine(spark, warehouse=wh, fs=fs)
    rows = [(i, [float(((i + 2) * (j + 1)) % 7 - 3) for j in range(8)], 0)
            for i in range(ANN_BASE)]
    eng.upsert(VX, _vec_df(spark, rows, "2014-01-01"), stamped=True)
    corpus = {eng._resolve(eng._path(VX)).gen: _ann_corpus(eng)}
    templates, counts, thr = [], [], None
    for j, op in enumerate(_ann_ops(kind)):
        t = str(tmp_path / f"tmpl{j}")
        shutil.copytree(wh, t)
        templates.append(t)
        if op[0] == "compact" and thr is None:
            # tier threshold: above every appended batch, below the base
            apath = eng._ann_path(VX, IX)
            root = json.loads(eng.fs.read_text(apath + "/_ann.json"))
            sizes: dict = {}
            for g in root["granules"]:
                tok = g.rsplit("__abatch=", 1)[1].rsplit(".", 1)[0]
                sizes[tok] = sizes.get(tok, 0) + eng.fs.du(f"{apath}/{g}")
            thr = max(s for t_, s in sizes.items() if t_ != "base")
            assert len(sizes) == 3 and sizes["base"] > thr, sizes
        used = fs.used
        _ann_do(spark, eng, op, thr)
        counts.append(fs.used - used)
        corpus[eng._resolve(eng._path(VX)).gen] = _ann_corpus(eng)
    assert eng.vector_index_list(VX, counts=True)[IX]["batches"] == 1
    return templates, counts, corpus, thr


def _ann_index_rows(spark, eng, kind):
    """(id, vector fingerprint) rows the committed root names."""
    from metrique_spark.functions import similarity as sim

    apath = eng._ann_path(VX, IX)
    if kind == "ivf":
        rows, _ = sim.read_ivf_index(spark, apath)
        rows = rows.select("_oid", sim._vh("v").alias("h"))
    else:
        rows = sim.read_pq_index(spark, apath)[0].select(
            "_oid", F.col("__vh").alias("h"))
    return sorted((r["_oid"], r["h"]) for r in rows.collect())


def _ann_sweep(spark, tmp_path, kind, stride):
    """Crash the ANN op sequence at every `stride`-th control-plane
    mutation (a seeded offset picks which), restarting each crash from
    the warehouse as it stood before the crashed op. After each crash:
    (1) a clean engine's allow_stale search answers from a committed
    root — exactly one row per id of the cube generation that root
    names, never a refusal once a root exists; (2) vacuum leaves no
    directory the root does not name and the answer unchanged; (3) one
    refresh plus one full compact converge the index to the live
    corpus, and a plain search then answers."""
    import random
    import shutil

    from test_vector_index import unnamed_index_dirs

    from metrique_spark.functions import similarity as sim

    templates, counts, corpus, thr = _ann_templates(spark, tmp_path, kind)
    points = [(j, k) for j, n in enumerate(counts) for k in range(n)]
    assert len(points) >= 10, counts
    points = points[random.Random(7).randrange(stride)::stride]
    ops = _ann_ops(kind)
    q = spark.createDataFrame([(-1, [1.0] * 8)],
                              "_oid long, embedding array<double>")

    def answer(eng):
        res = eng.vector_search(VX, IX, q, k=10_000, nprobe=2,
                                allow_stale=True).collect()
        return sorted(r["neighbor_id"] for r in res)

    for j, k in points:
        wh = str(tmp_path / f"c{j}_{k}")
        shutil.copytree(templates[j], wh)
        with pytest.raises(InjectedFault):
            _ann_do(spark, Engine(spark, warehouse=wh,
                                  fs=FaultFS(LocalFS(), k)), ops[j], thr)
        eng = Engine(spark, warehouse=wh)
        apath = eng._ann_path(VX, IX)
        listed = eng.vector_index_list(VX)
        if IX not in listed:
            # only a crash inside the first build leaves no root
            assert ops[j][0] == "build", (j, k)
            with pytest.raises(ValueError, match="no committed"):
                eng.vector_search(VX, IX, q, allow_stale=True)
            eng.vacuum(VX)
            assert not eng.fs.isdir(apath), (j, k)
            eng.build_vector_index(VX, IX, vec_col="embedding",
                                   **ops[0][1])
        else:
            want = sorted(o for o, _v in corpus[listed[IX]["gen"]])
            assert answer(eng) == want, (j, k, "committed answer")
            eng.vacuum(VX)
            assert unnamed_index_dirs(apath) == [], (j, k)
            assert answer(eng) == want, (j, k, "answer after vacuum")
        eng.refresh_vector_index(VX, IX)
        eng.compact_vector_index(VX, IX, small_bytes=None)
        live = _ann_corpus(eng)
        want_rows = sorted(
            (r["_oid"], r["h"]) for r in spark.createDataFrame(
                sorted(live), "_oid long, embedding array<double>")
            .select("_oid", sim._vh("embedding").alias("h")).collect())
        assert _ann_index_rows(spark, eng, kind) == want_rows, (j, k)
        assert eng.vector_search(VX, IX, q, k=3).count() == 3, (j, k)


@pytest.mark.slow
@pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
def test_fault_sweep_ann_index_protocol(spark, tmp_path, kind):
    """Every crash point of the ANN commit protocol (see _ann_sweep)."""
    _ann_sweep(spark, tmp_path, kind, stride=1)


@pytest.mark.parametrize("kind", ["ivf", "ivfpq"])
def test_fault_sweep_ann_index_protocol_sample(spark, tmp_path, kind):
    """A seeded every-4th-point sample of the ANN crash sweep — the
    default-run share of ``test_fault_sweep_ann_index_protocol``."""
    _ann_sweep(spark, tmp_path, kind, stride=4)


def _event(spark, b):
    return spark.createDataFrame(
        [(b, 1, f"2024-01-01 {b:02d}:05:00", "ok")],
        "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


def _window_sum(df):
    return (df.groupBy("window_start")
            .agg(F.sum("n").cast("long").alias("n"),
                 F.sum("n_errors").cast("long").alias("n_errors")))


def _partial_sink(base, fs):
    """An anomaly-count partial-state sink with the level tiering
    active on every fold (compact_after=1, every level 'large')."""
    from metrique_spark.streaming import events as ev

    return ev._partial_state_sink(
        f"{base}/st", f"{base}/out",
        partial_fn=lambda b: ev._event_window_counts(
            b, "1 hour", "error", "ts", "event_type"),
        fold_fn=_window_sum, finalize_fn=lambda t: t,
        compact_after=1, level_bytes=1, fs=fs)


def _root(base, rel):
    try:
        return LocalFS().read_text(f"{base}/{rel}")
    except FileNotFoundError:
        return None


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def _partial_view(spark, base):
    """(root text, totals of the named partials, output totals)."""
    raw = _root(base, "st/_state.json")
    if raw is None:
        return None, [], None
    parts = [f"{base}/st/{p}" for p in json.loads(raw)["parts"]]
    return (raw, _rows(_window_sum(spark.read.parquet(*parts))),
            _rows(spark.read.parquet(f"{base}/out")))


_DUP_BASE = "the quick brown fox jumps over the lazy dog again and again"
_DEDUP_BATCHES = [
    [(i, f"{_DUP_BASE} variant number {i}") for i in range(4)],
    [(100, f"{_DUP_BASE} variant number 2"),
     (101, "completely different content about databases here")],
    [(200, "completely different content about databases here"),
     (201, "yet another unrelated snippet of text entirely")],
    [(300, f"{_DUP_BASE} variant number 1"),
     (301, "a fourth batch speaks of query planners and joins")],
    [(400, "yet another unrelated snippet of text entirely"),
     (401, "the last batch is about storage engines and logs")],
]


def _dedup_sink(base, fs):
    from metrique_spark.streaming.events import stream_dedup_sink

    return stream_dedup_sink(
        f"{base}/idx", f"{base}/cor", f"{base}/flg", threshold=0.8,
        dedup_within_batch=False, compact_after=1, level_bytes=1, fs=fs)


def _dedup_view(spark, base):
    """(index root text, (committed index rows, committed corpus rows),
    flags) — the index must hold no duplicate row."""
    from metrique_spark.functions.dedup import read_minhash_index

    raw = _root(base, "idx/_minhash.json")
    if raw is None:
        return None, ([], []), None
    parts = json.loads(raw)["parts"]
    idx = _rows(read_minhash_index(spark, f"{base}/idx")
                .select("id", "band", "bh"))
    assert len(idx) == len(set(idx)), "duplicate index row"
    cor = _rows(spark.read.parquet(*[f"{base}/cor/{p}" for p in parts])
                .select("doc_id", "text"))
    return raw, (idx, cor), _rows(spark.read.parquet(f"{base}/flg"))


_MINHASH_OPS = [("overwrite", range(0, 6)), ("append", range(6, 9)),
                ("append", range(9, 12)), ("overwrite", range(12, 16))]


def _minhash_op(spark, base, fs, j):
    from metrique_spark.functions import dedup

    mode, ids = _MINHASH_OPS[j]
    docs = spark.createDataFrame(
        [(i, f"document {i} says {i * 7} things about {i % 3}")
         for i in ids], "doc_id long, text string")
    dedup.write_minhash_index(
        dedup.minhash_index(docs, num_hashes=16, bands=4),
        f"{base}/mh", mode=mode, fs=fs)


def _minhash_view(spark, base):
    """(params and part count of the root — part names are random per
    write —, committed index rows, None)."""
    from metrique_spark.functions.dedup import read_minhash_index

    raw = _root(base, "mh/_minhash.json")
    if raw is None:
        return None, [], None
    root = json.loads(raw)
    rows = _rows(read_minhash_index(spark, f"{base}/mh"))
    assert len(rows) == len(set(rows)), "duplicate index row"
    return (root["params"], len(root["parts"])), rows, None


def _store_sweep(spark, tmp_path, stride, n_ops, run_op, view,
                 replay=True):
    """Crash a store's op sequence at every `stride`-th control-plane
    mutation (a seeded offset picks which), restarting each crash from
    the store as it stood before the crashed op. Right after the crash
    the store must read exactly as before or after the op — root and
    committed rows — never torn. Then the op runs again: a stream
    sink's batch always replays (foreachBatch re-delivers it); an index
    write retries only when it did not commit (an append that committed
    must not be appended twice). Root, committed rows and output must
    then equal the clean run's after that op."""
    import os
    import random
    import shutil

    clean = str(tmp_path / "clean")
    os.makedirs(clean)
    fs = FaultFS(LocalFS(), None)
    templates, counts, views = [], [], [view(spark, clean)]
    for j in range(n_ops):
        templates.append(str(tmp_path / f"t{j}"))
        shutil.copytree(clean, templates[-1])
        used = fs.used
        run_op(clean, fs, j)
        counts.append(fs.used - used)
        views.append(view(spark, clean))
    points = [(j, k) for j, n in enumerate(counts) for k in range(n)]
    assert len(points) >= 5, counts
    for j, k in points[random.Random(11).randrange(stride)::stride]:
        base = str(tmp_path / f"c{j}_{k}")
        shutil.copytree(templates[j], base)
        with pytest.raises(InjectedFault):
            run_op(base, FaultFS(LocalFS(), k), j)
        got = view(spark, base)[:2]
        assert got in (views[j][:2], views[j + 1][:2]), (j, k)
        if replay or got == views[j][:2]:
            run_op(base, LocalFS(), j)
        assert view(spark, base) == views[j + 1], (j, k)


def _stream_sweep(spark, tmp_path, stride):
    """The stream and MinHash stores' crash sweep: the partial-state
    sink's batch commits and tiered folds, the dedup sink's batch
    commits and index + corpus folds, and MinHash index overwrites and
    appends."""
    _store_sweep(spark, tmp_path / "partial", stride, 6,
                 lambda base, fs, j: _partial_sink(base, fs)(
                     _event(spark, j), j),
                 _partial_view)
    _store_sweep(spark, tmp_path / "dedup", stride, len(_DEDUP_BATCHES),
                 lambda base, fs, j: _dedup_sink(base, fs)(
                     spark.createDataFrame(_DEDUP_BATCHES[j],
                                           "doc_id long, text string"), j),
                 _dedup_view)
    _store_sweep(spark, tmp_path / "minhash", stride, len(_MINHASH_OPS),
                 lambda base, fs, j: _minhash_op(spark, base, fs, j),
                 _minhash_view, replay=False)


@pytest.mark.slow
def test_fault_sweep_stream_level_protocol(spark, tmp_path):
    """Every crash point of the stream-state and MinHash root protocols
    (see _store_sweep / _stream_sweep): after each crash and replay the
    partial-state totals are exact, the dedup sink's flags and corpus
    equal a clean run's, and the MinHash index reads exactly its
    committed rows."""
    _stream_sweep(spark, tmp_path, stride=1)


def test_fault_sweep_stream_level_protocol_sample(spark, tmp_path):
    """A seeded every-4th-point sample of the stream / MinHash crash
    sweep — the default-run share of
    ``test_fault_sweep_stream_level_protocol``."""
    _stream_sweep(spark, tmp_path, stride=4)


def test_racing_stream_state_commit_fails_loud(spark, tmp_path):
    """A second writer that commits a batch between this sink's root
    read and its CAS makes this sink's commit fail with
    ConcurrentWriteError instead of clobbering the rival's batch; the
    committed state stays readable and exact."""
    from metrique_spark.fs import ConcurrentWriteError
    from metrique_spark.streaming import events as ev

    base = str(tmp_path / "race")
    rival = _partial_sink(base, LocalFS())
    rival(_event(spark, 0), 0)

    class RacingFS:
        """Runs the rival's commit of batch 1 right before this
        writer's first root CAS."""

        def __init__(self):
            self._inner, self.fired = LocalFS(), False

        def __getattr__(self, name):
            return getattr(self._inner, name)

        def replace_if_match(self, path, text, expected):
            if not self.fired:
                self.fired = True
                rival(_event(spark, 1), 1)
            return self._inner.replace_if_match(path, text, expected)

    with pytest.raises(ConcurrentWriteError):
        _partial_sink(base, RacingFS())(_event(spark, 2), 2)
    _raw, root = ev._state_root(LocalFS(), f"{base}/st", 2)
    assert root["parts"] == ["batch=0", "batch=1"]
    assert [n for _w, n, _e in _partial_view(spark, base)[1]] == [1, 1]
    # the losing batch replays into the rival's committed state
    _partial_sink(base, LocalFS())(_event(spark, 2), 2)
    assert [n for _w, n, _e in _partial_view(spark, base)[2]] == [1, 1, 1]


@pytest.mark.slow
def test_two_writer_interleaving_serializes(spark, tmp_path):
    """Two Engine instances interleave snapshot upserts on one cube
    under lock_wait: the final state must equal the SERIAL application
    of the commits in the order they landed. Every batch carries a
    sentinel oid whose value names the batch; the retained generations
    replay the landed order, and a model applied in that order must
    reproduce the cube's full history exactly."""
    wh = str(tmp_path / "wh")
    n_each = 4
    errors: list[BaseException] = []

    def writer(w):
        eng = Engine(spark, warehouse=wh, oid_buckets=4,
                     keep_generations=2 * n_each, lock_wait=120.0)
        try:
            for i in range(n_each):
                bid = w * n_each + i + 1
                items = [(0, bid), (10 + w, 100 * w + i)]
                _do(spark, eng, ("snap", (items, f"2015-{bid:02d}-01")))
        except BaseException as e:  # noqa: BLE001 — surface in main
            errors.append(e)

    threads = [threading.Thread(target=writer, args=(w,))
               for w in (0, 1)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    eng = Engine(spark, warehouse=wh, oid_buckets=4)
    gens = sorted(eng.generations(CUBE))
    assert len(gens) == 2 * n_each  # every commit retained
    # recover the landed order: the sentinel's open value at each
    # generation names the batch that committed it
    landed = []
    for g in gens:
        row = (eng.find(CUBE, query="_oid == 0", fields="col_1",
                        generation=g).collect())
        assert len(row) == 1
        landed.append(row[0]["col_1"])
    assert sorted(landed) == list(range(1, 2 * n_each + 1))
    model = _Model()
    for bid in landed:
        w, i = divmod(bid - 1, n_each)
        model.snapshot([(0, bid), (10 + w, 100 * w + i)],
                       f"2015-{bid:02d}-01")
    assert _cube_rows(spark, eng) == model.rows()


@pytest.mark.slow
def test_writer_rebuckets_under_concurrent_snapshots(spark, tmp_path):
    """A rebucket racing a stream of snapshot upserts from ANOTHER
    engine under lock_wait: whichever order the lease serializes them
    in, rebucket is physical-only, so the final cube must equal the
    model of just the snapshots — and the post-race layout must be
    consistent (count manifest-resolved, lookups correct)."""
    import threading

    wh = str(tmp_path / "wh")
    boot = Engine(spark, warehouse=wh, oid_buckets=2, lock_wait=120.0)
    boot.upsert(CUBE, _snap_df(spark, [(1, 10), (2, 20), (3, 30)],
                               "2015-01-01"), stamped=True)
    model = _Model()
    model.snapshot([(1, 10), (2, 20), (3, 30)], "2015-01-01")
    errors: list[BaseException] = []

    def snapper():
        eng = Engine(spark, warehouse=wh, oid_buckets=2, lock_wait=120.0)
        try:
            for i in range(3):
                eng.upsert(CUBE, _snap_df(
                    spark, [(1, 100 + i), (4, 40 + i)],
                    f"2015-0{i + 2}-01"), stamped=True)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def rebucketer():
        eng = Engine(spark, warehouse=wh, oid_buckets=2, lock_wait=120.0)
        try:
            eng.rebucket(CUBE, 8)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=snapper),
               threading.Thread(target=rebucketer)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for i in range(3):
        model.snapshot([(1, 100 + i), (4, 40 + i)], f"2015-0{i + 2}-01")
    clean = Engine(spark, warehouse=wh, oid_buckets=2)
    assert _cube_rows(spark, clean) == model.rows()
    assert clean.describe(CUBE)["oid_buckets"] == 8
    assert clean.count(CUBE) == 4  # metadata path agrees
    assert clean.find_one(CUBE, "_oid == 4")["col_1"] == 42


@pytest.mark.slow
def test_migration_steps_race_concurrent_snapshots(spark, tmp_path):
    """A doubling migration drained by ONE engine's rebucket_steps
    while ANOTHER engine streams snapshot upserts, both under
    lock_wait: the lease serializes the commits in some order; the
    migration is physical-only and the merges are migration-aware, so
    the final cube must equal the snapshot model exactly, the
    migration must complete, and the final layout (the root's count,
    a count-free layout, point lookups) must be consistent."""
    import threading

    wh = str(tmp_path / "wh")
    boot = Engine(spark, warehouse=wh, oid_buckets=2, lock_wait=120.0)
    boot.upsert(CUBE, _snap_df(spark, [(i, i * 10) for i in range(1, 7)],
                               "2015-01-01"), stamped=True)
    boot.rebucket(CUBE, 4, incremental=True)
    model = _Model()
    model.snapshot([(i, i * 10) for i in range(1, 7)], "2015-01-01")
    errors: list[BaseException] = []

    def snapper():
        eng = Engine(spark, warehouse=wh, oid_buckets=2,
                     lock_wait=120.0)
        try:
            for i in range(3):
                eng.upsert(CUBE, _snap_df(
                    spark, [(1, 100 + i), (9, 90 + i)],
                    f"2015-0{i + 2}-01"), stamped=True)
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    def stepper():
        eng = Engine(spark, warehouse=wh, oid_buckets=2,
                     lock_wait=120.0)
        try:
            for _ in range(12):
                if eng.rebucket_step(CUBE, max_dirs=1)["done"]:
                    break
        except BaseException as e:  # noqa: BLE001
            errors.append(e)

    threads = [threading.Thread(target=snapper),
               threading.Thread(target=stepper)]
    for t in threads:
        t.start()
    for t in threads:
        t.join()
    assert not errors, errors
    for i in range(3):
        model.snapshot([(1, 100 + i), (9, 90 + i)], f"2015-0{i + 2}-01")
    clean = Engine(spark, warehouse=wh, oid_buckets=2)
    # finish any remainder (the snapper may have held the lease at the
    # stepper's last attempts)
    while not clean.rebucket_step(CUBE)["done"]:
        pass
    assert _cube_rows(spark, clean) == model.rows()
    meta = clean._manifest(clean._path(CUBE))
    assert meta.get("migration") is None
    assert meta["oid_buckets"] == 4
    import json

    root = json.loads(clean.fs.read_text(
        clean.fs.join(clean._path(CUBE), "_manifest.json")))
    assert root["oid_buckets"] == 4 and root["format"] >= 3
    assert "oid_buckets" not in root["layout"]
    assert clean.count(CUBE) == 7  # 6 boot oids + oid 9
    assert sorted(r["_oid"] for r in
                  clean.find(CUBE, oids=[1, 9]).collect()) == [1, 9]
