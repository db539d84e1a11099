"""The engine reads exactly one on-disk cube format: a segmented
(format-7) manifest root that carries a schema, the oid-bucket count,
the cube's layout and registries (the index registry naming its ANN
indexes too) and the row and per-token byte totals of its directories,
and every cube is oid-bucketed; the
``_layout.json`` fence is read only when there is no root. Every older
state is refused with the one ValueError from ``_resolve``/
``_manifest_root`` — and refused WITHOUT touching the data: an older
cube's directories are committed data, so no writer may sweep them as
if they were a crashed first write."""

import json
import os

import pytest
from pyspark.sql import functions as F

from metrique_spark.engine import Engine
from metrique_spark.objects import stamp

REFUSAL = "older on-disk format"


def _objs(spark, rows, start):
    df = spark.createDataFrame(rows, "oid long, col_1 long")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)))


def _parquet_files(path):
    return sorted(os.path.join(d, f) for d, _, fs in os.walk(path)
                  for f in fs if f.endswith(".parquet"))


def _no_layout(eng, path):
    os.unlink(os.path.join(path, "_manifest.json"))
    os.unlink(os.path.join(path, "_layout.json"))


def _formatless_layout(eng, path):
    os.unlink(os.path.join(path, "_manifest.json"))
    lp = os.path.join(path, "_layout.json")
    with open(lp) as fh:
        lay = json.load(fh)
    lay.pop("format")
    with open(lp, "w") as fh:
        json.dump(lay, fh)


def _schemaless_root(eng, path):
    mp = os.path.join(path, "_manifest.json")
    with open(mp) as fh:
        root = json.load(fh)
    root.pop("schema")
    with open(mp, "w") as fh:
        json.dump(root, fh)


def _monolithic_root(eng, path):
    # the single-JSON root older engines wrote for unbucketed cubes,
    # rebuilt from the assembled manifest
    full = eng._manifest(path)
    root = {k: full[k] for k in ("gen", "dirs", "stats", "schema")}
    with open(os.path.join(path, "_manifest.json"), "w") as fh:
        json.dump(root, fh)


def _format4_root(eng, path):
    # the segmented root older engines wrote: the bucket count lived in
    # the layout sidecar until a rebucket put it in the root
    mp = os.path.join(path, "_manifest.json")
    with open(mp) as fh:
        root = json.load(fh)
    root["format"] = 4
    root.pop("oid_buckets")
    for h in root.get("history", []):
        h.pop("oid_buckets")
    with open(mp, "w") as fh:
        json.dump(root, fh)


def _format5_root(eng, path):
    # the root the previous engine wrote: the layout lived in the
    # sidecar, whose fence named format 5
    mp = os.path.join(path, "_manifest.json")
    with open(mp) as fh:
        root = json.load(fh)
    root["format"] = 5
    root.pop("layout")
    with open(mp, "w") as fh:
        json.dump(root, fh)
    with open(os.path.join(path, "_layout.json"), "w") as fh:
        json.dump({"format": 2, "min_format": 5}, fh)


def _format6_root(eng, path):
    # the root the previous engine wrote: its index registry named only
    # advisory indexes (ANN indexes were found by listing the cube), and
    # its fence named format 6
    mp = os.path.join(path, "_manifest.json")
    with open(mp) as fh:
        root = json.load(fh)
    root["format"] = 6
    root["indexes"] = [e for e in root.get("indexes", [])
                       if "vector" not in e]
    with open(mp, "w") as fh:
        json.dump(root, fh)
    with open(os.path.join(path, "_layout.json"), "w") as fh:
        json.dump({"format": 2, "min_format": 6}, fh)


def _unsized_root(eng, path):
    # the format-7 root an older engine wrote when measuring a written
    # directory's size failed: the commit went ahead without that
    # directory's bytes, and the rollup without its per-token totals
    mp = os.path.join(path, "_manifest.json")
    with open(mp) as fh:
        root = json.load(fh)
    root["rollup"].pop("token_bytes")
    with open(mp, "w") as fh:
        json.dump(root, fh)


@pytest.mark.parametrize("make_old", [_no_layout, _formatless_layout,
                                      _schemaless_root, _monolithic_root,
                                      _format4_root, _format5_root,
                                      _format6_root, _unsized_root])
def test_older_format_refused_and_never_wiped(spark, tmp_path, make_old):
    wh = str(tmp_path / "wh")
    first = Engine(spark, warehouse=wh)
    first.upsert("old", _objs(spark, [(1, 10), (2, 20)], "2014-01-01"),
                 stamped=True)
    path = os.path.join(wh, "old")
    make_old(first, path)
    files = _parquet_files(path)
    assert files

    eng = Engine(spark, warehouse=wh)
    batch = _objs(spark, [(1, 11)], "2014-02-01")
    ops = {
        "upsert": lambda: eng.upsert("old", batch, stamped=True),
        "insert": lambda: eng.insert("old", batch, stamped=True),
        "compact": lambda: eng.compact("old"),
        "table": lambda: eng.table("old"),
    }
    for name, op in ops.items():
        with pytest.raises(ValueError, match=REFUSAL):
            op()
        assert _parquet_files(path) == files, name


@pytest.mark.parametrize("kwarg, value, match", [
    pytest.param("oid_buckets", None, "oid_buckets=1", id="None"),
    pytest.param("oid_buckets", 0, "oid_buckets=1", id="0"),
    pytest.param("oid_buckets", -1, "oid_buckets=1", id="-1"),
    pytest.param("lock_ttl", 0, "lock_ttl must be > 0", id="lock_ttl-0"),
    pytest.param("lock_ttl", -5.0, "lock_ttl must be > 0",
                 id="lock_ttl-neg"),
    pytest.param("auto_compact_batches", -1,
                 "auto_compact_batches must be >= 0",
                 id="auto_compact_batches-neg"),
    pytest.param("auto_compact_index_batches", -1,
                 "auto_compact_index_batches must be >= 0",
                 id="auto_compact_index_batches-neg"),
])
def test_oid_buckets_must_be_a_positive_int(spark, tmp_path, kwarg, value,
                                            match):
    """Bad configuration fails loudly in the constructor."""
    with pytest.raises(ValueError, match=match):
        Engine(spark, warehouse=str(tmp_path / "wh"), **{kwarg: value})


def _vecs(spark, ids, start):
    rows = [(i, [float(((i + 2) * (j + 1)) % 7 - 3) for j in range(8)])
            for i in ids]
    df = spark.createDataFrame(rows, "oid long, embedding array<double>")
    return stamp(df, oid="oid", start=F.to_timestamp(F.lit(start)),
                 sort_arrays=False)


@pytest.mark.parametrize("leftover_intent", [False, True],
                         ids=["root_without_granules", "refresh_intent"])
def test_older_form_vector_index_refused_and_kept(spark, tmp_path,
                                                  leftover_intent):
    """An ANN index written before indexes committed by root — an
    ``_ann.json`` naming no granules, possibly beside a leftover
    ``_refresh.json`` intent — is refused by search, refresh and
    compaction with one ValueError naming the rebuild, is not listed,
    and keeps its data through commits and vacuum; a rebuild replaces
    it. A standalone index whose model sits in a sidecar (no root) is
    refused the same way."""
    from metrique_spark.functions import similarity as sim

    eng = Engine(spark, warehouse=str(tmp_path / "wh"))
    eng.upsert("v", _vecs(spark, range(40), "2014-01-01"), stamped=True)
    eng.build_vector_index("v", "ix", vec_col="embedding", kind="sq8")
    apath = eng._ann_path("v", "ix")
    root_p = os.path.join(apath, "_ann.json")
    with open(root_p) as fh:
        root = json.load(fh)
    old = {k: root[k] for k in ("kind", "gen", "vec_col", "id_col",
                                "params", "auto", "drift_base")}
    with open(root_p, "w") as fh:
        json.dump(old, fh)
    if leftover_intent:
        with open(os.path.join(apath, "_refresh.json"), "w") as fh:
            json.dump({"op": "refresh", "target_gen": 9}, fh)
    files = _parquet_files(apath)
    q = spark.createDataFrame([(0, [1.0] * 8)],
                              "_oid long, embedding array<double>")
    for op in (lambda: eng.vector_search("v", "ix", q, allow_stale=True),
               lambda: eng.refresh_vector_index("v", "ix"),
               lambda: eng.compact_vector_index("v", "ix")):
        with pytest.raises(ValueError, match="older on-disk form.*rebuild"):
            op()
    assert "ix" not in eng.vector_index_list("v")
    eng.upsert("v", _vecs(spark, [99], "2014-02-01"), stamped=True)
    eng.vacuum("v")
    assert _parquet_files(apath) == files  # data kept
    eng.build_vector_index("v", "ix", vec_col="embedding", kind="sq8")
    assert eng.vector_search("v", "ix", q, k=3).count() == 3
    assert not set(_parquet_files(apath)) & set(files)
    assert not os.path.exists(os.path.join(apath, "_refresh.json"))

    # standalone: a sidecar-model index with no root
    sp = str(tmp_path / "standalone")
    sim.write_sq8_index(eng.find("v", fields="embedding")
                        .select("_oid", "embedding"), sp, id_col="_oid")
    os.rename(os.path.join(sp, "_ann.json"), os.path.join(sp, "_pq.json"))
    kept = _parquet_files(sp)
    with pytest.raises(ValueError, match="rebuild"):
        sim.read_pq_index(spark, sp)
    with pytest.raises(ValueError, match="rebuild"):
        sim.sq8_topk_indexed(spark, sp, q)
    assert _parquet_files(sp) == kept


def _event(spark, b):
    return spark.createDataFrame(
        [(b, 1, f"2024-01-01 {b:02d}:05:00", "ok")],
        "event_id long, user_id long, ts string, event_type string"
    ).withColumn("ts", F.col("ts").cast("timestamp"))


@pytest.mark.parametrize("form", ["pre_level", "levels_only", "no_root"])
def test_older_form_stream_state_refused_and_kept(spark, tmp_path, form):
    """Streaming sink state written before it committed by root — a
    ``_state.json`` without the ``parts`` list (with or without the
    tiered ``levels``), or batch directories with no root at all — is
    refused by the next batch with one ValueError naming the rebuild,
    and keeps its data."""
    from metrique_spark.streaming import events as ev

    state_p = str(tmp_path / "st")
    sink = ev.stream_anomaly_sink(state_p, str(tmp_path / "out"),
                                  compact_after=1)
    for b in range(3):
        sink(_event(spark, b), b)
    root_p = os.path.join(state_p, "_state.json")
    with open(root_p) as fh:
        levels = [p for p in json.load(fh)["parts"]
                  if p.startswith("batch=gen")]
    old = {"compacted_through": 1, "gen": 1}
    if form == "levels_only":
        old["levels"] = levels
    if form == "no_root":
        os.unlink(root_p)
    else:
        with open(root_p, "w") as fh:
            json.dump(old, fh)
    files = _parquet_files(state_p)
    with pytest.raises(ValueError, match="older on-disk form.*rebuild"):
        sink(_event(spark, 3), 3)
    assert _parquet_files(state_p) == files


@pytest.mark.parametrize("form", ["sidecar_only", "no_root"])
def test_older_form_minhash_index_refused_and_kept(spark, tmp_path, form):
    """A MinHash index written before indexes committed by root — a
    stream sink's batch directories under a ``_minhash_params.json``
    sidecar, or parquet written straight into the directory — is
    refused by reads, both write modes and a stream dedup sink with one
    ValueError naming the rebuild, and keeps its data."""
    from metrique_spark.functions import dedup
    from metrique_spark.streaming.events import stream_dedup_sink

    docs = spark.createDataFrame(
        [(i, f"the quick brown fox jumps over dog {i}") for i in range(8)],
        "doc_id long, text string")
    idx = dedup.minhash_index(docs, num_hashes=32, bands=8)
    p = str(tmp_path / "mh")
    if form == "sidecar_only":
        idx.write.parquet(os.path.join(p, "batch=0"))
        with open(os.path.join(p, "_minhash_params.json"), "w") as fh:
            json.dump(idx._minhash_params, fh)
    else:
        idx.write.parquet(p)
    files = _parquet_files(p)
    sink = stream_dedup_sink(p, str(tmp_path / "c"), str(tmp_path / "f"),
                             num_hashes=32, bands=8)
    for op in (lambda: dedup.read_minhash_index(spark, p),
               lambda: dedup.write_minhash_index(idx, p),
               lambda: dedup.write_minhash_index(idx, p, mode="append"),
               lambda: sink(docs, 1)):
        with pytest.raises(ValueError, match="older on-disk form.*rebuild"):
            op()
    assert _parquet_files(p) == files


def test_older_form_upsert_stage_refused_and_kept(spark, tmp_path):
    """A group-commit stage holding staged batch directories but no
    ``_state.json`` root (staged by a sink that listed its stage) is
    refused by the final ``flush()`` as by the next batch — neither may
    report nothing pending while rows sit unflushed — and keeps its
    data."""
    from metrique_spark.streaming.events import stream_upsert_sink

    eng = Engine(spark, warehouse=str(tmp_path / "wh"), oid_buckets=2)
    sink = stream_upsert_sink(eng, "cube", str(tmp_path / "ck"),
                              coalesce_batches=2)
    _objs(spark, [(1, 10)], "2024-01-01").write.parquet(
        os.path.join(sink.stage_root, "batch=7"))
    files = _parquet_files(sink.stage_root)
    for op in (lambda: sink.flush(spark),
               lambda: sink(_objs(spark, [(2, 20)], "2024-01-02"), 8)):
        with pytest.raises(ValueError, match="older on-disk form.*rebuild"):
            op()
    assert _parquet_files(sink.stage_root) == files
    assert not os.path.exists(os.path.join(tmp_path, "wh", "cube"))
