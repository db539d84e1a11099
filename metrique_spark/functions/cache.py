"""Cache lifetime for lazily-returned plans.

Several operators persist an intermediate (``MEMORY_AND_DISK``) that the
RETURNED plan still reads — e.g. ``dedup_against_index`` persists the
candidate-pair set because two downstream joins consume it, and
``_prefix_under_budget`` persists its range-partitioned band because the
driver offsets and the final cumsum MUST see identical range boundaries.
Those blocks cannot be unpersisted inside the function (the caller has
not materialized the plan yet), so the caller owns the lifetime:

    result = dedup_against_index(batch, index, corpus)
    result.write.parquet(out)          # materialize
    release(result)                    # free the intermediates

Without ``release``, blocks are reclaimed only by executor-storage LRU
eviction or session shutdown — fine for a one-shot job, a slow leak in a
long-lived session that calls these operators repeatedly.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

_ATTR = "_metrique_cached_intermediates"
_DIRS = "_metrique_scratch_dirs"
_RDD = "_metrique_checkpoint_rdd"

_CACHE_CHUNK_CONF = "spark.metrique.cache.chunkBytes"
_CACHE_CHUNK_DEFAULT = 64 * 1024


def _leaf_scan_bytes(df: DataFrame, kinds: tuple[str, ...] = ()) -> int:
    """Summed byte statistics of the OPTIMIZED plan's DISTINCT leaf
    relations (file-listing numbers — reliable, no job), or -1 when any
    leaf is unknown, or, given ``kinds``, is a node of no kind named
    there. Post-join/aggregate stats are useless for sizing (a
    multiplied estimate of 23 GB was measured for a 2 MB feature frame),
    so the leaves are the estimate — but they do NOT bound the
    materialized size of a frame built with ``explode``, which emits
    many rows per input row. The ``narrow_small`` call sites that wrap
    such frames: ``dedup.jaccard_pairs``, ``dedup.dedup_against_index``
    and ``dedup.minhash_dedup_pairs`` over an input too big for one
    partition (the ``shingle_table`` frame), and
    ``similarity._pairs_within_buckets`` (the multi-probe bucket
    assignments, one row per probed bucket). There the estimate is low
    by the expansion factor, so in the small regime a partition can
    hold many times ``chunkBytes``; the core-count clamp keeps it
    perf-only. ``dedup._one_partition`` sizes the MinHash pass's
    input, before any explode, from the leaves whose figure measures
    their data (``kinds``).
    Distinct by (node, bytes): plans often scan the SAME relation through
    2–4 join branches, and counting it once per branch would quadruple
    the estimate (a same-sized different relation deduping wrongly only
    biases small inputs slightly narrower — at scale any real leaf
    saturates the caller's clamp)."""
    try:
        leaves = df._jdf.queryExecution().optimizedPlan().collectLeaves()
        seen = set()
        for i in range(leaves.size()):
            leaf = leaves.apply(i)
            name = leaf.nodeName()
            if kinds and name not in kinds:
                return -1
            s = int(leaf.stats().sizeInBytes())
            if s <= 0 or s >= (1 << 50):
                return -1
            seen.add((name, s))
        return sum(s for _, s in seen)
    except Exception:
        return -1


def _chunk_bytes(sess, conf: str = _CACHE_CHUNK_CONF,
                 default: int = _CACHE_CHUNK_DEFAULT) -> int:
    """The chunk-size setting ``conf`` (``spark.metrique.cache.chunkBytes``
    unless given) as a positive int — a non-numeric, zero or negative
    setting falls back to ``default`` instead of raising inside a
    persist or sizing path."""
    try:
        chunk = int(sess.conf.get(conf, str(default)))
    except ValueError:
        return default
    return chunk if chunk > 0 else default


def narrow_small(df: DataFrame) -> DataFrame:
    """Right-size a small frame that is about to be persisted and then
    re-read by several downstream passes: ``coalesce`` it to
    ``clamp(ceil(leaf_scan_bytes / chunkBytes), 1, cores)`` partitions —
    ONLY when that lands strictly under the core count, i.e. only in
    the small-input regime. Cached plans are exempt from AQE
    re-planning (``canChangeCachedPlanOutputPartitioning`` stays at the
    Spark default — see ``_utc`` in the entry module and the r14
    verdict), so a small persisted frame otherwise stays at the
    session's full shuffle-partition count and every pass over the
    cache pays ``cores`` tasks of fixed per-task overhead: measured on
    the classifier's 6-iteration GD loop at sf0.1 (≈5 k rows), width 32
    = 7.3 s wall / 33 task-CPU s vs width 8 = 3.2 s / 3.5 s. At real
    scale the leaves are huge, the clamp saturates at ``cores`` and the
    frame is returned UNTOUCHED — partitioning stays governed by
    shuffle config/AQE; this never coalesces a big frame."""
    sess = df.sparkSession
    cap = sess.sparkContext.defaultParallelism
    size = _leaf_scan_bytes(df)
    if size <= 0:
        return df
    chunk = _chunk_bytes(sess)
    target = max(1, -(-size // chunk))
    if target < cap:
        return df.coalesce(target)
    return df


def local_checkpoint(df: DataFrame) -> DataFrame:
    """``df.localCheckpoint(eager=False)``: the first job that reads the
    returned frame writes its blocks and later reads share them — no
    job of its own, and a scan that keeps ``df``'s partition count.
    ``DataFrame.unpersist`` does not free those blocks, so the frame
    carries its RDD for ``release`` to free. The blocks are not fault
    tolerant: Spark cannot recompute them, so a job that reads the
    frame fails when the executor holding one is lost, and once
    ``release`` frees them, acting on a plan that reads the frame
    raises."""
    cp = df.localCheckpoint(eager=False)
    setattr(cp, _RDD, cp._jdf.queryExecution().analyzed().rdd())
    return cp


def track(result: DataFrame, *frames: DataFrame) -> DataFrame:
    """Record persisted ``frames`` as intermediates of ``result`` so
    ``release(result)`` can unpersist them once the caller is done.
    Chains: intermediates already tracked on any of ``frames`` move onto
    ``result`` (a pipeline of cache-owning operators releases in one
    call) — scratch DIRECTORIES tracked on the frames chain the same
    way."""
    owned = list(getattr(result, _ATTR, []))
    dirs = list(getattr(result, _DIRS, []))
    for f in frames:
        owned.extend(getattr(f, _ATTR, []))
        dirs.extend(getattr(f, _DIRS, []))
        owned.append(f)
    setattr(result, _ATTR, owned)
    if dirs:
        setattr(result, _DIRS, dirs)
    return result


def track_dir(result: DataFrame, *paths: str, deleter=None) -> DataFrame:
    """Record scratch DIRECTORIES the returned plan reads (the
    auto-provisioned reliable spill of ``ranked_within_strata``) so
    ``release(result)`` deletes them once the caller has materialized.
    ``deleter`` (a ``path -> None`` callable) deletes through the same
    storage abstraction the spill was written with; without one,
    ``release`` falls back to the path's Hadoop FileSystem (resolved
    per-scheme through the frame's session — the same layer Spark wrote
    the parquet with, so an object-store spill deletes remotely instead
    of silently no-op'ing through a driver-local rmtree). Engine
    ``vacuum`` sweeps the warehouse ``_scratch`` root as the backstop
    for dirs a crashed job never released."""
    owned = list(getattr(result, _DIRS, []))
    owned.extend((p, deleter) for p in paths)
    setattr(result, _DIRS, owned)
    return result


def _fs_delete(spark, path: str) -> None:
    """Delete ``path`` recursively through its Hadoop FileSystem (the
    layer that wrote it — works for any scheme Spark can write:
    file://, hdfs://, s3a://, ...); driver-local rmtree as the last
    resort when no JVM is reachable (session already stopped)."""
    try:
        jvm = spark.sparkContext._jvm
        jpath = jvm.org.apache.hadoop.fs.Path(path)
        hfs = jpath.getFileSystem(
            spark.sparkContext._jsc.hadoopConfiguration())
        hfs.delete(jpath, True)
    except Exception:
        import shutil

        shutil.rmtree(path, ignore_errors=True)


def release(result: DataFrame) -> int:
    """Unpersist every intermediate tracked on ``result`` (a
    ``local_checkpoint``'s blocks included) and delete its tracked
    scratch directories (idempotent; non-blocking). Returns the number
    of frames unpersisted. Call AFTER materializing — the plan
    recomputes from source if acted on again, except one that reads a
    released ``local_checkpoint``: acting on that raises."""
    owned = getattr(result, _ATTR, [])
    for f in owned:
        try:
            rdd = getattr(f, _RDD, None)
            if rdd is None:
                f.unpersist(blocking=False)
            else:
                rdd.unpersist(False)
        except Exception:
            pass  # session already stopped
    setattr(result, _ATTR, [])
    for entry in getattr(result, _DIRS, []):
        # entries are (path, deleter) pairs (bare strings accepted for
        # pre-existing callers); deleter=None resolves to the path's
        # Hadoop FileSystem so remote-FS spills actually delete
        p, deleter = entry if isinstance(entry, tuple) else (entry, None)
        if deleter is not None:
            try:
                deleter(p)
            except Exception:
                pass  # vacuum sweeps the backstop
        else:
            _fs_delete(result.sparkSession, p)
    setattr(result, _DIRS, [])
    return len(owned)
