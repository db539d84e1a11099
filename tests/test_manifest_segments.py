"""Invariant suite for the SEGMENTED manifest (format 6): the flip →
assemble round trip is the identity every consumer depends on, touched
segments rotate while untouched ranges carry by filename reference,
modulus stamps group back into migration blocks, history entries keep
their segment refs, a flip retires by name exactly the files no root names,
and the describe() root fast path reports the same facts as the
assembled (legacy) path. Pure control-plane: no parquet data is
written, so the fuzz covers hundreds of manifest states in seconds."""

import json
import os
import random

import pytest

from metrique_spark.engine import Engine


@pytest.fixture()
def eng(spark, tmp_path):
    e = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=8)
    os.makedirs(str(tmp_path / "wh"))
    return e


# every committed manifest root carries the generation's read schema
_SCHEMA = {"type": "struct", "fields": []}


def _mkcube(eng, cube):
    # no sidecar: the first flip records the layout in the root
    path = eng._path(cube)
    os.makedirs(path, exist_ok=True)
    return path


def _dirs_for(buckets, rng, n_batches=3):
    out = set()
    for b in rng.sample(range(buckets), k=max(1, buckets // 2)):
        out.add(f"_current=true/__obucket={b}/__batch=open-g1")
        for t in range(rng.randint(0, n_batches)):
            out.add(f"_current=false/__obucket={b}/__batch=n{t}x{b * 7 + t}")
    return out


def _stats_for(dirs, rng, tz="UTC"):
    st = {"tz": tz, "max_end": {}, "min_start": {}, "bytes": {},
          "rows": {}}
    for d in dirs:
        st["bytes"][d] = rng.randint(100, 10_000)
        st["rows"][d] = rng.randint(1, 500)
        st["min_start"][d] = "2014-01-01 00:00:00.000000"
        if d.startswith("_current=false"):
            st["max_end"][d] = "2014-06-01 00:00:00.000000"
    return st


def test_flip_assemble_round_trip_fuzz(eng):
    rng = random.Random(13)
    for trial in range(25):
        cube = f"c{trial}"
        buckets = rng.choice([4, 8, 64, 200])
        path = _mkcube(eng, cube)
        dirs = _dirs_for(buckets, rng)
        stats = _stats_for(dirs, rng)
        eng._manifest_flip(path, None, 1, dirs, stats=stats,
                           schema=_SCHEMA, oid_buckets=buckets)
        # a FRESH engine (cold caches) assembles the identical state
        clean = Engine(eng.spark, warehouse=eng.warehouse)
        meta = clean._manifest(path)
        assert meta["gen"] == 1
        assert meta["dirs"] == sorted(dirs)
        assert meta["oid_buckets"] == buckets
        got = meta["stats"]
        for field in ("bytes", "rows", "max_end", "min_start"):
            want = {d: v for d, v in stats[field].items()}
            assert got[field] == want, (trial, field)
        # root rollup agrees with the assembled facts
        root = clean._manifest_root(path)
        roll = root["rollup"]
        assert roll["dirs"] == len(dirs)
        assert roll["rows"] == sum(stats["rows"].values())
        assert roll["rows_open"] == sum(
            v for d, v in stats["rows"].items()
            if d.startswith("_current=true"))
        closed = [d for d in dirs if d.startswith("_current=false")]
        assert sum(roll["token_bytes"].values()) == sum(
            stats["bytes"][d] for d in closed)


def test_second_flip_reuses_untouched_segments_and_sweeps(eng):
    rng = random.Random(7)
    buckets = 256  # several bucket ranges -> several segment files
    path = _mkcube(eng, "s")
    dirs = {f"_current=true/__obucket={b}/__batch=open-g1"
            for b in range(0, 256, 8)}
    stats = _stats_for(dirs, rng)
    eng._manifest_flip(path, None, 1, dirs, stats=stats,
                       schema=_SCHEMA, oid_buckets=buckets)
    root1 = eng._manifest_root(path)
    assert len(root1["segs"]) >= 3
    segdir = os.path.join(path, "_manifest_seg")
    files1 = set(os.listdir(segdir))
    # gen 2 touches ONE bucket: exactly one segment file rotates
    raw1 = eng._manifest_raw(path)
    d_new = "_current=true/__obucket=0/__batch=open-g2"
    dirs2 = (dirs - {"_current=true/__obucket=0/__batch=open-g1"}) | {d_new}
    stats2 = dict(stats)
    eng._manifest_flip(path, raw1, 2, dirs2,
                       stats=eng._merged_stats(
                           eng._manifest(path),
                           {d_new: {"max_end": None,
                                    "min_start":
                                        "2014-02-01 00:00:00.000000",
                                    "bytes": 123, "rows": 1}},
                           dirs2, None),
                       schema=_SCHEMA, oid_buckets=buckets)
    root2 = eng._manifest_root(path)
    changed = {k for k in root2["segs"]
               if root1["segs"].get(k) != root2["segs"][k]}
    assert len(changed) == 1 and changed == {"b00000"}
    # untouched ranges carry the SAME filenames (reference, no rewrite)
    for k in root2["segs"]:
        if k != "b00000":
            assert root2["segs"][k] == root1["segs"][k]
    # the superseded b00000 file was swept; the rest remain
    files2 = set(os.listdir(segdir))
    assert root1["segs"]["b00000"] not in files2
    assert set(root2["segs"].values()) == files2
    assert files2 & files1  # shared, not rewritten


def test_stamps_round_trip_as_migration_blocks(eng):
    rng = random.Random(5)
    buckets = 16
    path = _mkcube(eng, "m")
    dirs = _dirs_for(buckets, rng)
    bucketed = sorted(d for d in dirs if "/__obucket=" in d)
    eng._manifest_flip(path, None, 1, dirs,
                       stats=_stats_for(dirs, rng), schema=_SCHEMA,
                       oid_buckets=16)
    raw = eng._manifest_raw(path)
    # start doubling: stamp every dir at modulus 16, live becomes 32
    eng._manifest_flip(path, raw, 2, dirs,
                       stats=_stats_for(dirs, rng), schema=_SCHEMA,
                       oid_buckets=32,
                       migration={"from": 16, "old_dirs": bucketed})
    meta = eng._manifest(path)
    assert [b["from"] for b in meta["migration"]] == [16]
    assert meta["migration"][0]["old_dirs"] == bucketed
    # chain: stamp a NEW dir set at 32, live 64; original stamps kept
    raw = eng._manifest_raw(path)
    extra = "_current=true/__obucket=1/__batch=open-g3"
    dirs3 = set(dirs) | {extra}
    eng._manifest_flip(path, raw, 3, dirs3,
                       stats=_stats_for(dirs3, rng), schema=_SCHEMA,
                       oid_buckets=64,
                       migration={"from": 32, "old_dirs": [extra]})
    meta = eng._manifest(path)
    assert [b["from"] for b in meta["migration"]] == [16, 32]
    assert meta["migration"][1]["old_dirs"] == [extra]
    # a dir leaving the manifest drops its stamp via the carry rule
    raw = eng._manifest_raw(path)
    gone = bucketed[0]
    dirs4 = dirs3 - {gone}
    eng._manifest_flip(path, raw, 4, dirs4,
                       stats=_stats_for(dirs4, rng), schema=_SCHEMA)
    meta = eng._manifest(path)
    assert gone not in meta["migration"][0]["old_dirs"]
    # explicit None clears every stamp; the root keeps the live count
    # and its layout carries none
    raw = eng._manifest_raw(path)
    eng._manifest_flip(path, raw, 5, dirs4,
                       stats=_stats_for(dirs4, rng), schema=_SCHEMA,
                       migration=None)
    meta = eng._manifest(path)
    assert meta.get("migration") is None
    root = json.loads(eng._manifest_raw(path))
    assert root["oid_buckets"] == 64 and "oid_buckets" not in root["layout"]


def test_describe_fast_path_matches_assembled_path(spark, tmp_path):
    """The root-rollup describe must report the same facts the
    assembled-manifest path computes for the same cube."""
    from pyspark.sql import functions as F

    from metrique_spark.objects import stamp

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 keep_generations=1)
    df = spark.createDataFrame([(i, i) for i in range(30)],
                               "oid long, x long")
    eng.upsert("d", stamp(
        df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
        stamped=True)
    df2 = spark.createDataFrame([(1, 99)], "oid long, x long")
    eng.upsert("d", stamp(
        df2, oid="oid", start=F.to_timestamp(F.lit("2024-02-01"))),
        stamped=True)
    fast = eng.describe("d")
    # force the assembled path: the same segmented root without the
    # per-token byte rollup (what a commit writes when a closed dir
    # has no recorded size)
    path = eng._path("d")
    raw = eng._manifest_raw(path)
    root = json.loads(raw)
    del root["rollup"]["token_bytes"]
    assert eng.fs.replace_if_match(
        os.path.join(path, "_manifest.json"), json.dumps(root), raw)
    slow = Engine(spark, warehouse=str(tmp_path / "wh"),
                  oid_buckets=4).describe("d")
    for k in ("state", "generation", "open_dirs", "closed_dirs",
              "history_tokens", "history_bytes", "small_tokens",
              "compact_recommended", "rows_open", "rows_total",
              "max_bucket_bytes", "retained_generations"):
        assert fast[k] == slow[k], k


def test_commit_listing_is_bounded_by_the_commit_not_the_cube(
        spark, tmp_path):
    """Commits must never LIST the cube tree: the post-commit sweep
    works from (prior-retained - new-retained) manifest sets, so the
    control-plane listdir count of a 2-oid trickle commit is bounded
    by what the commit itself touched (written dirs' du + segment dir
    + lock traffic), NOT by how many directories the cube has — on an
    object store the per-commit tree walk was an O(cube) LIST bill."""
    from pyspark.sql import functions as F

    from metrique_spark.fs import LocalFS
    from metrique_spark.objects import stamp

    class CountingFS(LocalFS):
        def __init__(self):
            self.listdirs = 0

        def listdir(self, path):
            self.listdirs += 1
            return super().listdir(path)

    def trickle_listdirs(buckets, rows):
        fs = CountingFS()
        eng = Engine(spark, warehouse=str(tmp_path / f"wh{buckets}"),
                     oid_buckets=buckets, fs=fs)
        df = spark.createDataFrame([(i, i) for i in range(rows)],
                                   "oid long, x long")
        eng.upsert("c", stamp(
            df, oid="oid", start=F.to_timestamp(F.lit("2024-01-01"))),
            stamped=True)
        n_dirs = len(eng._manifest(eng._path("c"))["dirs"])
        fs.listdirs = 0
        d2 = spark.createDataFrame([(1, 99), (2, 98)], "oid long, x long")
        eng.upsert("c", stamp(
            d2, oid="oid", start=F.to_timestamp(F.lit("2024-02-01"))),
            stamped=True)
        return n_dirs, fs.listdirs

    small_dirs, small_calls = trickle_listdirs(4, 40)
    big_dirs, big_calls = trickle_listdirs(64, 2000)
    assert big_dirs > 3 * small_dirs  # premise: the cubes differ in size
    # the commit's listing bill must NOT scale with the cube's dirs
    assert big_calls <= small_calls + 10, (
        small_dirs, small_calls, big_dirs, big_calls)
