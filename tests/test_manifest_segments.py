"""Invariant suite for the SEGMENTED manifest (format 6): the flip →
assemble round trip is the identity every consumer depends on, touched
segments rotate while untouched ranges carry by filename reference,
modulus stamps group back into migration blocks, history entries keep
their segment refs, a flip retires by name exactly the files no root names,
describe() reports from the root rollup the figures the assembled
per-directory stats give, and a commit whose size measurement fails
publishes nothing. The fuzz is pure control-plane: no parquet data is
written, so it covers hundreds of manifest states in seconds."""

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


def _upsert(eng, cube, rows, day):
    from pyspark.sql import functions as F

    from metrique_spark.objects import stamp

    df = eng.spark.createDataFrame(rows, "oid long, x long")
    eng.upsert(cube, stamp(df, oid="oid",
                           start=F.to_timestamp(F.lit(day))), stamped=True)


def test_describe_reports_the_assembled_stats(spark, tmp_path):
    """describe() answers from the root rollup alone; every figure it
    reports equals the one computed from the assembled manifest's
    per-directory ``rows`` and ``bytes`` of the same cube."""
    from metrique_spark.compaction import tier_groups

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 keep_generations=1)
    _upsert(eng, "d", [(i, i) for i in range(30)], "2024-01-01")
    _upsert(eng, "d", [(1, 99)], "2024-02-01")
    _upsert(eng, "d", [(2, 98), (3, 97)], "2024-03-01")
    meta = eng._manifest(eng._path("d"))
    rows, size = meta["stats"]["rows"], meta["stats"]["bytes"]
    open_d = [d for d in meta["dirs"] if d.startswith("_current=true")]
    closed = [d for d in meta["dirs"] if d.startswith("_current=false")]
    tok: dict[str, int] = {}
    for d in closed:
        t = Engine._batch_dir_token(d)
        tok[t] = tok.get(t, 0) + size[d]
    per_bucket: dict[str, int] = {}
    for d in meta["dirs"]:
        b = d.split("/")[1]
        per_bucket[b] = per_bucket.get(b, 0) + size[d]
    small = eng.compact_small_bytes
    want = {
        "state": "manifest",
        "generation": meta["gen"],
        "retained_generations": [h["gen"] for h in meta["history"]],
        "open_dirs": len(open_d),
        "closed_dirs": len(closed),
        "history_tokens": tok,
        "history_bytes": sum(tok.values()),
        "small_tokens": sum(s <= small for s in tok.values()),
        "compact_recommended": bool(tier_groups(tok, small)),
        "rows_open": sum(rows[d] for d in open_d),
        "rows_total": sum(rows[d] for d in meta["dirs"]),
        "max_bucket_bytes": max(per_bucket.values()),
    }
    got = Engine(spark, warehouse=str(tmp_path / "wh"),
                 oid_buckets=4).describe("d")
    for k, v in want.items():
        assert got[k] == v, k
    assert len(tok) == 2 and got["compact_recommended"]
    assert (got["rows_total"], got["rows_open"]) == (33, 30)


def test_failed_size_measurement_fails_the_commit_before_its_flip(
        spark, tmp_path):
    """Every directory a commit writes is measured with ``fs.du``; when
    that raises, the commit fails before its flip like a failed write:
    the root and reads stay on the prior generation, the same batch
    retried commits what a clean run commits, and every directory the
    new root names carries its ``rows`` and ``bytes``."""
    from metrique_spark.fs import LocalFS

    class FailingDu(LocalFS):
        failures = 0

        def du(self, path):
            if self.failures:
                self.failures -= 1
                raise OSError("injected du failure")
            return super().du(path)

    def history(eng):
        return sorted((r["_oid"], str(r["_start"]), str(r["_end"]),
                       r["_id"], r["_hash"], r["x"])
                      for r in eng.find("c", date="~").collect())

    first = [(i, i) for i in range(20)]
    second = [(1, 101), (2, 102), (30, 1)]
    fs = FailingDu()
    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=4,
                 fs=fs)
    _upsert(eng, "c", first, "2024-01-01")
    path = eng._path("c")
    raw = eng._manifest_raw(path)
    before = history(eng)
    fs.failures = 1
    with pytest.raises(OSError, match="injected du failure"):
        _upsert(eng, "c", second, "2024-02-01")
    assert eng._manifest_raw(path) == raw
    assert history(eng) == before
    assert [r["x"] for r in eng.find("c", oids=[1]).collect()] == [1]

    _upsert(eng, "c", second, "2024-02-01")
    clean = Engine(spark, warehouse=str(tmp_path / "clean"), oid_buckets=4)
    _upsert(clean, "c", first, "2024-01-01")
    _upsert(clean, "c", second, "2024-02-01")
    assert history(eng) == history(clean)
    meta = eng._manifest(path)
    assert meta["gen"] == 2
    assert meta["dirs"] == clean._manifest(clean._path("c"))["dirs"]
    for field in ("rows", "bytes"):
        assert set(meta["stats"][field]) == set(meta["dirs"]), field
    assert eng.count("c") == 21 and eng.count("c", date="~") == 23


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
