"""One cube resolution per public op.

Every read and commit takes its generation, directories, bucket moduli,
schema and layout from ONE read of the manifest root (``_resolve``), so a
point lookup can no longer mix two generations: a lookup racing a full
rebucket either reads the old generation whole or re-resolves and reads
the new one whole. Control-plane calls are pinned through a counting
``FileSystem``: one GET of the root and no existence probe before it;
no GET of ``_layout.json`` (the root records the layout) or of a
dropped-columns sidecar, and a commit retires superseded segment files
by name and lists no directory at all (the root's registry names the
cube's ANN indexes).
"""

import os
from collections import Counter

from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.fs import LocalFS
from metrique_spark.objects import stamp
from metrique_spark.xxh64 import obucket_of

ROOT, LAYOUT = "_manifest.json", "_layout.json"
SEGDIR = "_manifest_seg"


def _objs(spark, rows, start):
    df = spark.createDataFrame(rows, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


class _RacingFS(LocalFS):
    """Runs ``hook`` once, right after the next GET of a manifest root
    returns — a concurrent commit landing between the reader's root
    read and everything it reads afterwards."""

    hook = None

    def read_text(self, path):
        text = super().read_text(path)
        if self.hook is not None and os.path.basename(path) == ROOT:
            hook, self.hook = self.hook, None
            hook()
        return text


def test_point_lookup_racing_full_rebucket_returns_the_row(spark, tmp_path):
    wh = str(tmp_path / "wh")
    fs = _RacingFS()
    reader = Engine(spark, warehouse=wh, oid_buckets=4, fs=fs)
    reader.upsert("c", _objs(spark, [(i, 100 + i) for i in range(32)],
                             "2024-01-01"), stamped=True)
    # warm caches: the reader has assembled the 4-bucket manifest
    assert reader.count("c", "_oid >= 0") == 32
    o = next(i for i in range(32) if obucket_of(i, 4) != obucket_of(i, 8))
    writer = Engine(spark, warehouse=wh)
    fs.hook = lambda: writer.rebucket("c", 8)
    rows = reader.find("c", oids=[o]).collect()
    assert fs.hook is None, "the rebucket never ran"
    assert reader._manifest(reader._path("c"))["oid_buckets"] == 8
    assert [(r["_oid"], r["col_1"]) for r in rows] == [(o, 100 + o)]


class _CountingFS:
    """Delegating control-plane wrapper counting calls per (method,
    file name); calls a backend makes internally (the CAS's own read)
    are not counted."""

    def __init__(self, inner):
        self.inner = inner
        self.calls: Counter = Counter()

    def join(self, *parts):
        return self.inner.join(*parts)

    def __getattr__(self, name):
        attr = getattr(self.inner, name)
        if not callable(attr):
            return attr

        def call(path, *a, **kw):
            self.calls[(name, os.path.basename(path))] += 1
            return attr(path, *a, **kw)

        return call


def _calls(fs, fn):
    fs.calls.clear()
    fn()
    return dict(fs.calls)


def _probes(calls):
    return {k: n for k, n in calls.items()
            if k[0] in ("isfile", "exists") and k[1] in (ROOT, LAYOUT)}


def test_control_call_ceilings(spark, tmp_path):
    fs = _CountingFS(LocalFS())
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 keep_generations=2, fs=fs)
    eng.upsert("c", _objs(spark, [(i, i) for i in range(16)],
                          "2024-01-01"), stamped=True)
    eng.upsert("c", _objs(spark, [(i, 10 + i) for i in range(8)],
                          "2024-02-01"), stamped=True)
    old = eng.generations("c")[1]

    lookups = {
        "oids": lambda: eng.find("c", oids=[3]).collect(),
        "mql_asof": lambda: eng.find("c", "_oid == 3",
                                     date="2024-01-15").collect(),
        "generation": lambda: eng.find("c", oids=[3],
                                       generation=old).collect(),
    }
    for name, fn in lookups.items():
        cold = _calls(fs, fn)  # may load (and cache) segment files
        warm = _calls(fs, fn)
        assert _calls(fs, fn) == warm, name  # repeats exactly
        for calls in (cold, warm):
            assert calls.get(("read_text", ROOT)) == 1, (name, calls)
            assert ("read_text", LAYOUT) not in calls, (name, calls)
            assert not _probes(calls), (name, calls)
    assert [r["col_1"] for r in lookups["oids"]()] == [13]
    assert [r["col_1"] for r in lookups["mql_asof"]()] == [3]
    assert [r["col_1"] for r in lookups["generation"]()] == [3]

    for gen in (None, old):
        calls = _calls(fs, lambda: eng.count("c", generation=gen))
        assert calls.get(("read_text", ROOT)) == 1, (gen, calls)
    assert eng.count("c") == 16 and eng.count("c", generation=old) == 16

    commits = {
        "upsert": lambda: eng.upsert(
            "c", _objs(spark, [(1, 99)], "2024-03-01"), stamped=True),
        "insert": lambda: eng.insert(
            "c", _objs(spark, [(100, 1)], "2024-03-02"), stamped=True),
        "compact": lambda: eng.compact("c"),
    }
    for name, fn in commits.items():
        gen = eng.generations("c")[0]
        calls = _calls(fs, fn)
        assert eng.generations("c")[0] == gen + 1, name  # committed
        assert calls.get(("read_text", ROOT), 0) <= 2, (name, calls)
        assert not _probes(calls), (name, calls)
        for call in (("read_text", LAYOUT), ("read_text", "_dropped.json"),
                     ("isdir", SEGDIR), ("listdir", SEGDIR)):
            assert call not in calls, (name, call, calls)
        # the root's registry names the cube's ANN indexes, and a
        # dropped directory's parent is never listed: a commit lists
        # nothing
        assert not [k for k in calls if k[0] == "listdir"], (name, calls)
    # the commits retired superseded segment files by name: the segment
    # directory holds exactly what the root and its retained entries name
    path = eng._path("c")
    root = eng._manifest_root(path)
    assert len(root["history"]) == 2
    assert set(os.listdir(os.path.join(path, SEGDIR))) == \
        eng._seg_names(root)
    assert eng.count("c") == 17
    assert eng.count("c", date="~") == 26
