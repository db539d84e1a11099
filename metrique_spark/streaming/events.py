"""Event-stream operators: tumbling/sliding windows, sessionization, and a
streaming ingest path for the cube model.

Every operator has one implementation that works in BOTH batch and
streaming mode — the transformations are identical DataFrame ops; only the
source (``read`` vs ``readStream``) differs. Watermarks bound state for
late data in streaming; in batch they're no-ops.

Sessionization uses the built-in ``session_window`` (Spark 3.2+) — state
store managed, no custom ``applyInPandasWithState`` needed for gap
sessions. A custom stateful example (running per-user counters) shows the
``applyInPandasWithState`` path for semantics the built-ins can't express.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

# ---------------------------------------------------------------------------
# Sink state: one CAS'd root naming batch and level directories (shared by
# the continuous sinks).
#
# A foreachBatch sink keeps its state as immutable directories — one
# ``batch={id}`` directory per micro-batch plus size-tiered ``batch=gen{g}``
# LEVEL directories — named in ONE root object that commits through
# ``fs.publish`` like a cube manifest: a micro-batch writes its directory,
# then CASes the root to name it. Readers take the live set from the root,
# never from a listing, so a crash between any two steps leaves them
# reading exactly-once content, and the per-batch path makes no LIST. A
# replay of a batch the root already names skips the state write; a
# replay of one it does not (a crashed attempt) overwrites the unnamed
# directory.
#
# A sink that wrote one directory per micro-batch forever would carry a
# year of minutely batches — ~500k directories. So once more than
# ``compact_after`` COMMITTED batches (ids below the running batch —
# foreachBatch runs batch N only after N-1's checkpoint commit, so those
# ids are never re-delivered) are named, the commit first folds them into
# a new level. Levels are SIZE-TIERED like the warehouse compactor
# (``compaction.tier_groups``): each fold creates a new level from the
# recent partials only, small levels merge together, and ≥4 similar-sized
# larger levels promote into the next level up — so a long-running sink
# pays O(recent batches) per fold and O(log) lifetime rewrites per byte,
# never an O(|all state|) rewrite. The same publish drops what the fold
# retired by name, and the fold then runs the listing ``fs.vacuum`` for
# what crashed attempts stranded. An older state — a ``_state.json``
# without the ``parts`` list, or batch directories with no root — refuses
# with the rebuild instruction; its data is kept.

_STATE_ROOT = "_state.json"


def _state_root(fs, path: str,
                batch_id: int | None) -> tuple[str | None, dict]:
    """``(text, root)`` of the sink state at ``path`` — one GET; a fresh
    state starts empty. Only when there is no root is the directory
    listed, to refuse an older state whose batch directories no root
    names (a crashed first attempt of THIS batch, ``batch_id``, is not
    one; a drain outside any batch passes None)."""
    import json

    try:
        raw = fs.read_text(fs.join(path, _STATE_ROOT))
    except FileNotFoundError:
        raw = None
        if not any(d.startswith("batch=") and d != f"batch={batch_id}"
                   for d in fs.listdir(path)):
            return None, {"gen": 0, "parts": []}
    root = json.loads(raw) if raw else {}
    if "parts" not in root:
        raise ValueError(
            f"streaming state at {path!r} is an older on-disk form (no "
            f"{_STATE_ROOT} naming its batch directories) — rebuild it: "
            "remove this state directory and the query's checkpoint, then "
            "replay the stream; the old data is left in place")
    return raw, root


def _batch_ids(root: dict) -> list[int]:
    """Ids of the committed ``batch={id}`` directories the root names."""
    return sorted(int(p[len("batch="):]) for p in root["parts"]
                  if not p.startswith("batch=gen"))


def _fold_levels(root: dict, new_ids: list[int], write_fold, du,
                 level_bytes: int) -> dict:
    """The tiered fold: write the NEW level from ``new_ids``'s batch
    dirs only, then size-tier the level set (small levels merge, ≥4
    similar-sized levels promote — ``compaction.tier_groups``). Returns
    the next root (the caller publishes it).
    ``write_fold(src_names, out_name)`` folds the named sibling dirs
    into ``out_name`` (names are root-relative, so a multi-store sink —
    index + corpus — folds every store in lockstep under the same level
    names); ``du(name)`` is the name's total byte size (summed across
    stores). Every write lands in a gen-numbered dir no root names, and
    the numbering is deterministic from the committed root, so a
    crashed attempt's dirs are overwritten by the retry or vacuumed
    after it."""
    from metrique_spark.compaction import tier_groups

    gen = root["gen"] + 1
    folded = {f"batch={i}" for i in new_ids}
    levels = [p for p in root["parts"] if p.startswith("batch=gen")]
    write_fold(sorted(folded), f"batch=gen{gen}")
    levels.append(f"batch=gen{gen}")
    sizes = {d: du(d) for d in levels}
    for grp in tier_groups(sizes, level_bytes):
        gen += 1
        write_fold(sorted(grp), f"batch=gen{gen}")
        levels = [d for d in levels if d not in grp]
        levels.append(f"batch=gen{gen}")
    rest = [p for p in root["parts"]
            if p not in folded and not p.startswith("batch=gen")]
    return {**root, "gen": gen, "parts": levels + rest}


def _commit_batch(fs, path: str, name: str, raw: str | None, root: dict,
                  batch_id: int, compact_after: int, stores=(),
                  **fold) -> dict:
    """Publish the root ``name`` at ``path`` with the just-written
    ``batch={batch_id}`` directory named — after folding the committed
    batches into a new level when more than ``compact_after`` are named
    (``fold``: ``_fold_levels``' ``write_fold``, ``du`` and
    ``level_bytes``). What the fold retired is dropped by name from
    ``path`` and every extra store directory in ``stores``, which
    ``vacuum`` then sweeps down to what the root names. Returns the new
    root."""
    import json

    from metrique_spark.fs import drop, publish, vacuum

    ids = [i for i in _batch_ids(root) if i < batch_id]
    new = (_fold_levels(root, ids, **fold) if len(ids) > compact_after
           else dict(root))
    new["parts"] = [*new["parts"], f"batch={batch_id}"]
    dropped = set(root["parts"]) - set(new["parts"])
    publish(fs, path, name, json.dumps(new), raw, dropped)
    for store in stores:
        drop(fs, store, dropped)
    if dropped:
        for store in (path, *stores):
            vacuum(fs, store, {*new["parts"], name})
    return new


def read_events_stream(spark: SparkSession, path: str,
                       max_files_per_trigger: int = 4) -> DataFrame:
    """File-source stream over an events directory (exactly-once via file
    tracking; at scale this is the same code against Kafka/Kinesis).

    The physical ``ts`` encoding has shipped both as nanosecond parquet
    (surfaced as long under ``nanosAsLong``) and as microsecond
    TIMESTAMP_NTZ; the schema is taken from the files themselves (a
    footer-only batch read) and either encoding is normalized to
    ``TimestampType`` before any watermark/window sees it."""
    static_schema = spark.read.parquet(path).schema
    raw = (
        spark.readStream.schema(static_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .parquet(path)
    )
    ts_type = static_schema["ts"].dataType
    if isinstance(ts_type, T.LongType):
        raw = raw.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, T.TimestampNTZType):
        raw = raw.withColumn("ts", F.col("ts").cast("timestamp"))
    return raw


def tumbling_counts(events: DataFrame, window: str = "1 hour",
                    watermark: str = "2 hours") -> DataFrame:
    """Per-window, per-type counts + value sum. Streaming-safe (watermark
    bounds state); in batch mode the watermark is ignored by Spark."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.window("ts", window).alias("w"), "event_type")
        .agg(F.count("*").alias("n"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(F.col("w.start").alias("window_start"), "event_type", "n", "value_sum")
    )


def session_stats(events: DataFrame, gap: str = "30 minutes",
                  watermark: str = "2 hours") -> DataFrame:
    """Gap-based sessions per user via built-in ``session_window``."""
    src = events.withWatermark("ts", watermark) if events.isStreaming else events
    return (
        src.groupBy(F.session_window("ts", gap).alias("s"), "user_id")
        .agg(F.count("*").alias("n_events"), F.round(F.sum("value"), 2).alias("value_sum"))
        .select(
            "user_id",
            F.col("s.start").alias("session_start"),
            F.col("s.end").alias("session_end"),
            "n_events",
            "value_sum",
        )
    )


def dedup_stream(events: DataFrame, keys=("event_id",),
                 watermark: str = "2 hours", ts_col: str = "ts") -> DataFrame:
    """Exactly-once event dedup — the standard ingestion guard against
    at-least-once sources (replayed Kafka offsets, retried file drops).

    Streaming: ``dropDuplicatesWithinWatermark`` keeps one state entry per
    key only until the watermark passes it, so state is bounded by the
    horizon × key arrival rate, not by stream lifetime — the property that
    makes this runnable forever at 100 TB/day. Batch: plain
    ``dropDuplicates`` (same semantics, no horizon needed)."""
    keys = list(keys)
    if events.isStreaming:
        return (events.withWatermark(ts_col, watermark)
                .dropDuplicatesWithinWatermark(keys))
    return events.dropDuplicates(keys)


def user_running_totals(events: DataFrame) -> DataFrame:
    """Custom stateful op demo: running per-user event count/value via
    ``applyInPandasWithState`` in streaming, plain window agg in batch.
    Illustrates the escape hatch for semantics built-ins can't express
    (reference has no analog; SURVEY.md §2.7 extension)."""
    if not events.isStreaming:
        return (
            events.groupBy("user_id")
            .agg(F.count("*").alias("n_events"),
                 F.round(F.sum("value"), 2).alias("value_sum"))
        )

    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout
    import pandas as pd

    out_schema = "user_id long, n_events long, value_sum double"
    state_schema = "n long, s double"

    def update(key, pdfs, state: GroupState):
        n, s = state.get if state.exists else (0, 0.0)
        for pdf in pdfs:
            n += len(pdf)
            s += float(pdf["value"].fillna(0).sum())
        state.update((n, s))
        yield pd.DataFrame(
            {"user_id": [key[0]], "n_events": [n], "value_sum": [round(s, 2)]})

    return events.groupBy("user_id").applyInPandasWithState(
        update, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout)


def stream_upsert_sink(engine, cube: str, checkpoint_dir: str,
                       coalesce_batches: int | None = None,
                       coalesce_seconds: float | None = None):
    """foreachBatch sink: micro-batches flow through the engine's
    temporal snapshot upsert — streaming ingest of versioned objects
    (the streaming analog of the reference's delta batch sync).

    Default: one engine commit per micro-batch — simplest semantics,
    but each commit pays a fixed ~seconds overhead (writer lease,
    bucket-merge job, manifest flip), which caps a high-frequency
    trigger at well under 1 commit/s. ``coalesce_batches`` /
    ``coalesce_seconds`` opt into GROUP COMMIT: each micro-batch is
    first STAGED durably (a tiny ``batch={id}``-keyed parquet write
    under the checkpoint dir — overwrite-keyed, so foreachBatch's
    at-least-once replay converges), and the engine upsert runs once
    per N staged batches or T elapsed seconds, folding every staged
    row into ONE snapshot commit (one manifest flip). Durability is
    preserved across the buffering window: rows a crash strands in the
    stage are picked up by the next flush after restart (the stage
    root IS the recovery queue), and a crash mid-flush replays
    the same staged batches into the idempotent snapshot merge
    (identical content closes nothing twice). Within one coalesced
    commit, later micro-batches win per oid (batch ids order the
    buffered rows — same last-write-wins the per-batch path gets from
    commit order). The returned sink exposes ``flush(spark)`` for a
    final drain after the stream stops.

    The stage is sink state like any other (the protocol in the module
    header): a ``_state.json`` root names the staged batch directories,
    a staging batch CASes it, and a flush publishes it empty and then
    sweeps the stage (``fs.vacuum``) down to the root — the drained
    batches and any a crashed flush stranded. A stage with batch
    directories but no root is an older form and refuses, in a flush
    as in a batch (a first staging that crashed before its root is
    taken back by that batch's replay, not by a flush). Its control
    plane rides the ENGINE's ``fs`` abstraction and the data plane is
    Spark's own parquet writer, so the coalescing sink stages wherever
    the engine's warehouse lives; real deployments put the checkpoint
    dir on the same HDFS/S3 store as the cube."""

    def _commit(batch_df: DataFrame):
        engine.upsert(cube, batch_df, stamped=True)

    if not coalesce_batches and not coalesce_seconds:
        def _sink(batch_df: DataFrame, batch_id: int):
            if not batch_df.isEmpty():
                _commit(batch_df)

        return _sink

    import json
    import time as _time

    from pyspark.sql import functions as F

    from metrique_spark.fs import publish, vacuum

    fs = engine.fs
    stage_root = fs.join(checkpoint_dir, "_upsert_stage")
    state = {"last_flush": _time.monotonic()}

    def _drain(spark, raw, root) -> int:
        staged = root["parts"]
        if staged:
            df = (spark.read.option("basePath", stage_root)
                  .parquet(*[fs.join(stage_root, d) for d in staged]))
            # one row per oid: latest _start wins, micro-batch id breaks
            # ties (so a later batch's same-timestamp update wins, as it
            # would under per-batch commits). Intermediate versions
            # within the window collapse — the same buffered-container
            # semantics the engine's own per-batch latest_per_oid
            # applies, widened to the coalescing window; callers who
            # need every intermediate version keep the per-batch default.
            from pyspark.sql import Window

            w = (Window.partitionBy("_oid")
                 .orderBy(F.col("_start").desc(),
                          F.col("batch").cast("long").desc()))
            _commit(df.withColumn("__rn", F.row_number().over(w))
                    .where(F.col("__rn") == 1).drop("__rn", "batch"))
            # a crash before this publish replays the same staged
            # batches into the idempotent merge
            publish(fs, stage_root, _STATE_ROOT,
                    json.dumps({**root, "parts": []}), raw)
        # the stage root names nothing now: the sweep drops the drained
        # batches and whatever a drain that crashed after its publish
        # stranded
        vacuum(fs, stage_root, {_STATE_ROOT})
        state["last_flush"] = _time.monotonic()
        return len(staged)

    def flush(spark) -> int:
        """Fold every staged micro-batch into ONE engine commit and
        clear the stage; returns the number of batches folded."""
        return _drain(spark, *_state_root(fs, stage_root, None))

    def _sink(batch_df: DataFrame, batch_id: int):
        raw, root = _state_root(fs, stage_root, batch_id)
        part = f"batch={batch_id}"
        if part not in root["parts"] and not batch_df.isEmpty():
            batch_df.write.mode("overwrite").parquet(
                fs.join(stage_root, part))
            root = {**root, "parts": [*root["parts"], part]}
            text = json.dumps(root)
            publish(fs, stage_root, _STATE_ROOT, text, raw)
            raw = text
        n = len(root["parts"])
        if not n:
            return
        due = (coalesce_batches is not None and n >= coalesce_batches)
        if (not due and coalesce_seconds is not None
                and _time.monotonic() - state["last_flush"]
                >= coalesce_seconds):
            due = True
        if due:
            _drain(batch_df.sparkSession, raw, root)

    _sink.flush = flush
    _sink.stage_root = stage_root
    return _sink


def stream_dedup_sink(
    index_path: str,
    corpus_path: str,
    flags_path: str,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_band_bucket: int | None = 10_000,
    max_candidates_per_doc: int | None = 1_000,
    dedup_within_batch: bool = True,
    compact_after: int = 256,
    level_bytes: int = 256 * 1024 * 1024,
    fs=None,
):
    """Continuous-ingest near-dedup — the ``foreachBatch`` composition of
    the incremental LSH path a training-data pipeline actually runs: each
    micro-batch is flagged against the PERSISTED MinHash index (the base
    corpus plus every earlier accepted batch), accepted docs append to
    the corpus store and their signatures to the index, and flagged
    dupes are recorded with their best match:

    - ``index_path``:  (id, band, bh) signature rows, named by the
      MinHash index's ``_minhash.json`` root, which also carries the
      signing params and the sink state — ``read_minhash_index`` on it
      returns exactly the committed index
    - ``corpus_path``: accepted (id, text) rows under the same directory
      names (candidate verification re-reads text only for candidates,
      via the semi-join inside ``dedup_against_index``)
    - ``flags_path``:  (id, dup_of, jaccard) per flagged doc

    Replay-idempotent under foreachBatch's at-least-once contract: each
    batch writes its flags, corpus and index rows into
    ``batch={batch_id}`` directories, then publishes the root naming
    them (the state protocol in the module header). A batch the root
    already names replays as a pure no-op; a crash anywhere earlier
    reprocesses the whole batch into the same (unnamed) directories and
    converges. Probes read only what the root names, so a half-written
    prior attempt can never make a batch match itself, and a sink whose
    params differ from the root's fails before it writes anything. Doc
    ids should be unique across the stream (a re-sent id verifies
    against its earlier self at jaccard 1.0 and gets flagged).
    Near-dupes WITHIN one batch are handled too (``dedup_within_batch``,
    on by default): after the index probe, the remaining novel docs run
    MinHash-verified pair generation + canonical selection among
    themselves — only each cluster's min-id member is
    accepted/indexed; the rest are flagged with ``dup_of`` = their
    cluster's canonical id and ``jaccard`` = their strongest verified
    pair link. Corpus flags take priority over within-batch flags when a
    doc duplicates both. The root's I/O rides the ``fs`` backend
    (default ``LocalFS``), so the sink runs unchanged on an object
    store.

    Index/corpus compaction: once more than ``compact_after`` committed
    batch directories are named, the commit folds them into size-tiered
    LEVEL directories of both stores in lockstep (see the module header)
    — each fold writes a new level from the recent batches only, and
    levels merge per ``compaction.tier_groups`` with ``level_bytes`` as
    the tier threshold, so a year of ingest never pays an O(|corpus|)
    rewrite on any single fold. Flag directories are output, not sink
    state — compact them offline if needed."""
    from metrique_spark.functions import dedup as _dedup
    from metrique_spark.functions.cache import release
    from metrique_spark.fs import LocalFS

    fs = fs or LocalFS()
    params = {"num_hashes": num_hashes, "bands": bands,
              "shingle_n": shingle_n}

    def _sink(batch_df: DataFrame, batch_id: int):
        spark = batch_df.sparkSession
        if batch_df.isEmpty():
            return
        # a misconfigured sink fails before it can commit wrongly-signed
        # rows into the index
        raw, root = _dedup._minhash_root(fs, index_path)
        if root is None:
            root = {"params": params, "gen": 0, "parts": []}
        elif root["params"] != params:
            raise ValueError(
                f"stream index at {index_path} was signed with "
                f"{root['params']}; this sink uses {params}")
        if f"batch={batch_id}" in root["parts"]:
            return  # committed earlier: replay is a no-op

        batch = batch_df.select(F.col(id_col), F.col(text_col))
        if root["parts"]:
            # the probe reads exactly what the root names — never this
            # batch's own (uncommitted) directories
            idx = _dedup._minhash_frame(spark, fs, index_path, root)
            corpus = spark.read.parquet(
                *[fs.join(corpus_path, p) for p in root["parts"]]
            ).select(id_col, text_col)
            raw_flags = _dedup.dedup_against_index(
                batch, idx, corpus, id_col=id_col, text_col=text_col,
                threshold=threshold, num_hashes=num_hashes, bands=bands,
                shingle_n=shingle_n, max_band_bucket=max_band_bucket,
                max_candidates_per_doc=max_candidates_per_doc,
            )
            # checkpoint returns a NEW frame without the cache-tracking
            # attribute — release must target the pre-checkpoint object
            flags = raw_flags.localCheckpoint(eager=True)
            release(raw_flags)
        else:
            flags = spark.createDataFrame(
                [], f"{id_col} {batch.schema[id_col].dataType.simpleString()},"
                    f" dup_of {batch.schema[id_col].dataType.simpleString()},"
                    " jaccard double")
        novel = batch.join(flags.select(id_col), id_col, "anti")
        if dedup_within_batch:
            # EXACT dedup first (fingerprint groupBy — skew-safe at any
            # cluster size): a bit-identical cluster larger than the LSH
            # hot-bucket cap would otherwise lose every band bucket and
            # sail through unflagged, poisoning all future probes of
            # that content
            from metrique_spark.functions.text import fingerprint

            fp = fingerprint(text_col)
            keep = (novel.select(fp.alias("__fp"),
                                 F.col(id_col).alias("__kid"))
                    .groupBy("__fp").agg(F.min("__kid").alias("__kid")))
            exact_flags = (
                novel.withColumn("__fp", fp)
                .join(keep, "__fp")
                .where(F.col(id_col) != F.col("__kid"))
                .select(F.col(id_col), F.col("__kid").alias("dup_of"),
                        F.lit(1.0).alias("jaccard")))
            # checkpoint ONCE here: both the novel anti-join and the
            # final union read this frame — without it the fingerprint
            # groupBy+join would materialize twice per micro-batch
            flags = flags.unionByName(exact_flags).localCheckpoint(
                eager=True)
            novel = (novel.join(flags.select(id_col), id_col, "anti")
                     .localCheckpoint(eager=True))
            pairs = _dedup.minhash_dedup_pairs(
                novel, id_col=id_col, text_col=text_col,
                threshold=threshold, num_hashes=num_hashes, bands=bands,
                shingle_n=shingle_n, max_band_bucket=max_band_bucket)
            decisions = _dedup.canonical_docs(novel, pairs, id_col=id_col)
            # strongest verified link per flagged doc (either pair side)
            links = (pairs.select(F.col("id_a").alias(id_col),
                                  F.col("jaccard"))
                     .unionByName(pairs.select(
                         F.col("id_b").alias(id_col), F.col("jaccard")))
                     .groupBy(id_col)
                     .agg(F.max("jaccard").alias("jaccard")))
            batch_flags = (
                decisions.where(~F.col("is_canonical"))
                .select(id_col, F.col("component_id").alias("dup_of"))
                .join(links, id_col)
                .select(id_col, "dup_of", "jaccard"))
            # remap exact flags whose target was itself flagged as a
            # near-dup: dup_of must always point at a doc that survives
            # into the corpus (the cluster's accepted canonical), never
            # at another dropped copy
            redirect = batch_flags.select(
                F.col(id_col).alias("dup_of"),
                F.col("dup_of").alias("__final"))
            flags = (
                flags.join(redirect, "dup_of", "left")
                .select(id_col,
                        F.coalesce("__final", F.col("dup_of"))
                        .alias("dup_of"),
                        "jaccard")
                .unionByName(batch_flags)
                .localCheckpoint(eager=True))
            # the checkpoint above materialized everything downstream of
            # the pair generation; free its tracked persists now
            release(pairs)
        accepted = novel.join(flags.select(id_col), id_col, "anti")
        flags.write.mode("overwrite").parquet(
            fs.join(flags_path, f"batch={batch_id}"))
        accepted.write.mode("overwrite").parquet(
            fs.join(corpus_path, f"batch={batch_id}"))
        rows = _dedup.minhash_index(
            accepted, id_col=id_col, text_col=text_col,
            num_hashes=num_hashes, bands=bands, shingle_n=shingle_n)
        rows.write.mode("overwrite").parquet(
            fs.join(index_path, f"batch={batch_id}"))

        # index and corpus fold in lockstep under the same level names
        def _write_fold(src_names, out_name):
            for store, cols in ((index_path, None),
                                (corpus_path, [id_col, text_col])):
                folded = spark.read.parquet(
                    *[fs.join(store, n) for n in src_names])
                if cols:
                    folded = folded.select(*cols)
                folded.write.mode("overwrite").parquet(
                    fs.join(store, out_name))

        _commit_batch(
            fs, index_path, _dedup._MINHASH_ROOT, raw, root, batch_id,
            compact_after, stores=(corpus_path,), write_fold=_write_fold,
            du=lambda n: (fs.du(fs.join(index_path, n))
                          + fs.du(fs.join(corpus_path, n))),
            level_bytes=level_bytes)

    return _sink


def correlate_events(
    events: DataFrame,
    first_type: str = "click",
    then_type: str = "purchase",
    within: str = "1 hour",
    watermark: str = "2 hours",
) -> DataFrame:
    """Event correlation — every (first, then) pair for the same user where
    the ``then`` event follows a ``first`` event within ``within`` (e.g.
    attribute each purchase to the clicks in the preceding hour).

    One implementation, both modes. Batch: a plain self-join with the
    interval condition (keyed by user, never a cartesian). Streaming: a
    watermarked stream-stream inner join — BOTH sides carry watermarks and
    the join condition bounds event-time distance, which is exactly what
    lets Spark expire join state: a buffered ``first`` event can be
    dropped once the watermark passes its ts + ``within``. Without the
    time-range condition the state would grow forever."""
    iv = F.expr(f"INTERVAL {within}")
    # NTZ-proof: a raw TIMESTAMP_NTZ ts (the round-2 regression shape)
    # can't cast to double for the gap; normalize to TimestampType first
    events = events.withColumn("ts", F.col("ts").cast("timestamp"))
    a = events.select(
        F.col("user_id").alias("a_user"),
        F.col("event_id").alias(f"{first_type}_id"),
        F.col("ts").alias("a_ts"),
        F.col("event_type").alias("a_type"),
    ).where(F.col("a_type") == first_type).drop("a_type")
    b = events.select(
        F.col("user_id").alias("b_user"),
        F.col("event_id").alias(f"{then_type}_id"),
        F.col("ts").alias("b_ts"),
        F.col("event_type").alias("b_type"),
    ).where(F.col("b_type") == then_type).drop("b_type")
    if events.isStreaming:
        a = a.withWatermark("a_ts", watermark)
        b = b.withWatermark("b_ts", watermark)
    joined = a.join(
        b,
        (F.col("a_user") == F.col("b_user"))
        & (F.col("a_ts") <= F.col("b_ts"))
        & (F.col("a_ts") >= F.col("b_ts") - iv),
    )
    return joined.select(
        F.col("a_user").alias("user_id"),
        f"{first_type}_id",
        f"{then_type}_id",
        (F.col("b_ts").cast("double") - F.col("a_ts").cast("double"))
        .cast("long").alias("gap_seconds"),
    )


def event_transitions(
    events: DataFrame,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    decimals: int = 4,
) -> DataFrame:
    """First-order Markov transition matrix over each user's
    chronological event stream: for every consecutive pair of events by
    the same user, count (from_type, to_type) and normalize per source
    type — the "what do users do next" table behind journey/path
    analysis. Returns ``(from_type, to_type, n, prob)`` with
    ``sum(prob) = 1`` per ``from_type``. Ordering ties on the timestamp
    break by ``id_col`` so the result is deterministic (and
    oracle-checkable).

    Scale shape: one ``lead()`` window partitioned by user — a
    partition's size is one user's event count, so parallelism rides the
    user cardinality and no global sort exists; the transition aggregate
    is map-side combined down to |types|² rows, and the per-source
    normalization runs over that tiny table (broadcast join of the
    per-source totals)."""
    ev = events.select(F.col(user_col).alias("u"),
                       F.col(ts_col).cast("timestamp").alias("t"),
                       F.col(id_col).alias("eid"),
                       F.col(type_col).alias("from_type"))
    return _transitions_from_events(ev, decimals)


def _transitions_from_events(ev: DataFrame, decimals: int) -> DataFrame:
    """Transition matrix from normalized (u, t, eid, from_type) events —
    shared by the batch operator and the stream sink's finalizer so
    stream equals batch by construction."""
    from pyspark.sql import Window

    w = Window.partitionBy("u").orderBy("t", "eid")
    pairs = (ev.withColumn("to_type", F.lead("from_type").over(w))
             .where(F.col("to_type").isNotNull()))
    counts = (pairs.groupBy("from_type", "to_type")
              .agg(F.count("*").cast("long").alias("n")))
    totals = counts.groupBy("from_type").agg(F.sum("n").alias("__tot"))
    return (counts.join(F.broadcast(totals), "from_type")
            .select("from_type", "to_type", "n",
                    F.round(F.col("n") / F.col("__tot"), decimals)
                    .alias("prob")))


def funnel(
    events: DataFrame,
    steps: tuple = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Funnel conversion: how many users performed step 1, then step 2
    STRICTLY AFTER their first step 1, then step 3 after that, … (each
    stage anchored at the user's earliest qualifying timestamp — the
    standard product-analytics funnel). Returns one row per step:
    ``(step, step_idx, n_users)``, counts monotonically non-increasing.

    Scale shape: stage i is a per-user min-timestamp aggregate of the
    events filtered to step i joined against stage i-1's anchor — every
    aggregate and join keys on the user id, so all |steps| passes share
    one partitioning (map-side-combined min, no window over a user's
    full event list, no ordered collect). Each stage's slim (user, ts)
    anchor table is persisted: stage i feeds BOTH stage i+1's lineage
    and its own count row, and without the persist stage 1 would
    recompute once per downstream stage — O(|steps|²) event scans.
    Cache lifetime: ``functions.cache.release(result)`` after
    materializing.

    Streaming twin: ``stream_funnel_sink`` shares ``_funnel_partials`` +
    ``_funnel_from_partials`` with this function, so stream and batch
    agree by construction."""
    ev = events.select(F.col(user_col).alias("u"),
                       F.col(ts_col).cast("timestamp").alias("t"),
                       F.col(type_col).alias("et"))
    return _funnel_from_partials(ev, steps)


def _funnel_partials(events: DataFrame, steps: tuple, user_col: str,
                     ts_col: str, type_col: str) -> DataFrame:
    """The funnel's additive partial state: DISTINCT (u, t, et) triples
    restricted to the funnel's steps. This is the MINIMAL exact
    statistic — sequential anchors mean a late step-1 event can make any
    earlier step-2 timestamp the new stage anchor, so per-(user, step)
    mins are NOT sufficient; the distinct triple set is, and off-step
    events (the bulk of a real stream) are dropped at partial time.
    Partials from different micro-batches merge by union + distinct."""
    return (
        events.select(F.col(user_col).alias("u"),
                      F.col(ts_col).cast("timestamp").alias("t"),
                      F.col(type_col).alias("et"))
        .where(F.col("et").isin(list(steps)))
        .distinct()
    )


def _funnel_from_partials(ev: DataFrame, steps: tuple) -> DataFrame:
    """Stage-anchored funnel over a (u, t, et) frame — duplicate
    timestamps don't change any min-aggregate, so the batch path feeds
    the raw projection and the stream path the deduplicated partials,
    with identical results (pinned by a stream-equals-batch test)."""
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import track

    stage = (ev.where(F.col("et") == steps[0])
             .groupBy("u").agg(F.min("t").alias("t"))
             .persist(StorageLevel.MEMORY_AND_DISK))
    stages = [stage]
    for step in steps[1:]:
        nxt = (ev.where(F.col("et") == step)
               .withColumnRenamed("t", "t2")
               .join(stage, "u")
               .where(F.col("t2") > F.col("t"))
               .groupBy("u").agg(F.min("t2").alias("t"))
               .persist(StorageLevel.MEMORY_AND_DISK))
        stages.append(nxt)
        stage = nxt
    out = None
    for i, (step, s) in enumerate(zip(steps, stages), start=1):
        row = s.agg(
            F.lit(step).alias("step"),
            F.lit(i).alias("step_idx"),
            F.count("*").cast("long").alias("n_users"))
        out = row if out is None else out.unionByName(row)
    return track(out, *stages)


def retention_cohorts(
    events: DataFrame,
    period: str = "week",
    user_col: str = "user_id",
    ts_col: str = "ts",
) -> DataFrame:
    """Cohort retention: bucket each user into the period of their FIRST
    event (the cohort), then count how many distinct cohort members are
    active 0, 1, 2, … periods later — the standard retention triangle.
    Returns ``(cohort, period_offset, n_users)``.

    Scale shape: one per-(user, period) min aggregate (map-side combined
    — this IS the additive partial the streaming twin persists), one
    per-user min for the cohort assignment, one join back on the user
    id, one distinct-count aggregate on (cohort, offset) — no window
    over a user's history, no per-period scans.

    Streaming twin: ``stream_retention_sink`` shares
    ``_retention_partials`` + ``_retention_from_partials`` with this
    function, so stream and batch agree by construction."""
    return _retention_from_partials(
        _retention_partials(events, period, user_col, ts_col), period)


def _retention_partials(events: DataFrame, period: str, user_col: str,
                        ts_col: str) -> DataFrame:
    """Retention's additive partial state: per (user, activity period)
    the min event timestamp — O(users × active periods) rows, a genuinely
    compact sufficient statistic (unlike the funnel's). Partials from
    different micro-batches merge by a (u, tp) min — min is commutative,
    associative, and idempotent, so replays and splits both fold
    exactly."""
    if period not in ("day", "week", "month"):
        raise ValueError(
            f"retention_cohorts: unsupported period {period!r} "
            "(day, week, month)")
    ev = events.select(F.col(user_col).alias("u"),
                       F.col(ts_col).cast("timestamp").alias("t"))
    return (ev.groupBy("u", F.date_trunc(period, F.col("t")).alias("tp"))
            .agg(F.min("t").alias("mt")))


def _retention_from_partials(parts: DataFrame, period: str) -> DataFrame:
    """Retention triangle over (u, tp, mt) partials: cohort = period of
    the user's global min timestamp (min over per-period mins), offsets
    from the distinct activity periods."""
    first = parts.groupBy("u").agg(
        F.date_trunc(period, F.min("mt")).alias("cohort"))
    tp = F.col("tp")
    # CALENDAR arithmetic, not epoch-seconds: an epoch difference divided
    # by a fixed 604800/86400 mis-bins any week/day spanning a DST
    # transition in a non-UTC session timezone (601,200-second weeks)
    if period == "day":
        off = F.datediff(tp, F.col("cohort"))
    elif period == "week":
        off = F.floor(F.datediff(tp, F.col("cohort")) / 7)
    else:  # month
        off = F.months_between(tp, F.col("cohort"))
    return (
        parts.join(first, "u")
        .withColumn("period_offset", off.cast("long"))
        .groupBy("cohort", "period_offset")
        .agg(F.count_distinct("u").cast("long").alias("n_users"))
    )


def error_rate_anomalies(
    events: DataFrame,
    window: str = "1 hour",
    error_type: str = "error",
    lookback: int = 6,
    z: float = 2.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Windowed error-rate anomaly detection: bucket events into tumbling
    windows, compute each window's error rate, and flag windows whose
    rate exceeds the trailing ``lookback``-window mean by more than
    ``z`` sample standard deviations (rolling z-score — the standard
    ops-monitoring rule). Returns
    ``(window_start, n, n_errors, rate, zscore, is_anomaly)``; the first
    windows (no full trailing frame) carry NULL zscore and never flag.

    Scale shape: the per-window aggregate is map-side combined down to
    ONE row per time window, so the rolling window function runs over
    #windows rows — bounded by the time span (a year of hours is 8.8k
    rows), not the event volume; its single-task sort is a few KB.

    Streaming twin: ``stream_anomaly_sink`` runs the SAME detector
    continuously — it shares ``_event_window_counts`` and
    ``_anomalies_from_counts`` with this function, so stream and batch
    agree by construction (pinned by a stream-equals-batch test)."""
    per = _event_window_counts(events, window, error_type, ts_col,
                               type_col)
    return _anomalies_from_counts(per, lookback, z)


def _event_window_counts(events: DataFrame, window: str, error_type: str,
                         ts_col: str, type_col: str) -> DataFrame:
    """Per-tumbling-window (window_start, n, n_errors) counts — the
    additive partial aggregate both the batch detector and the streaming
    sink build on (partials from different micro-batches sum)."""
    return (
        events.select(F.window(F.col(ts_col).cast("timestamp"), window)
                      .alias("w"), F.col(type_col).alias("et"))
        .groupBy("w")
        .agg(F.count("*").alias("n"),
             F.sum(F.when(F.col("et") == error_type, 1).otherwise(0))
             .cast("long").alias("n_errors"))
        .select(F.col("w.start").alias("window_start"), "n", "n_errors")
    )


def seasonal_error_anomalies(
    events: DataFrame,
    window: str = "1 hour",
    error_type: str = "error",
    lookback: int = 7,
    z: float = 2.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
) -> DataFrame:
    """Hour-of-day seasonal anomaly detection: each window's error rate
    is z-scored against the trailing ``lookback`` windows at the SAME
    hour of day (today's 14:00 vs the previous days' 14:00) — the rule
    that catches "elevated for this time of day" anomalies a flat
    trailing baseline normalizes away, and suppresses the daily-peak
    false positives it raises. Returns ``error_rate_anomalies``'s
    columns plus ``hour_of_day``.

    Scale shape: identical to ``error_rate_anomalies`` — the rolling
    stats run over one-row-per-window aggregates, here split across 24
    hour-of-day partitions, each time-bounded."""
    per = _event_window_counts(events, window, error_type, ts_col,
                               type_col)
    per = per.withColumn("hour_of_day", F.hour("window_start"))
    return _anomalies_from_counts(per, lookback, z,
                                  season="hour_of_day")


def _anomalies_from_counts(per: DataFrame, lookback: int, z: float,
                           season: str | None = None) -> DataFrame:
    """Rolling-z anomaly flags over a (window_start, n, n_errors) table
    (one row per time window — see ``error_rate_anomalies``);
    ``season`` names a column that partitions the trailing frame
    (seasonal baselines)."""
    from pyspark.sql import Window

    per = per.withColumn(
        "rate", F.round(F.col("n_errors") / F.col("n"), 6))
    base = (Window.partitionBy(season) if season is not None
            else Window.partitionBy())
    wf = (base.orderBy("window_start")
          .rowsBetween(-lookback, -1))
    mean = F.avg("rate").over(wf)
    sd = F.stddev_samp("rate").over(wf)
    cnt = F.count("rate").over(wf)
    zscore = F.when((cnt >= lookback) & (sd > 0),
                    F.round((F.col("rate") - mean) / sd, 4))
    # a zero-variance trailing frame gives no z-score, but a rate ABOVE
    # the (perfectly stable) mean is the clearest anomaly there is —
    # flag it rather than hiding behind the undefined deviation
    # epsilon guards float-summation noise: avg of six 0.1s can land one
    # ulp off 0.1, which must not read as an exceedance (1e-9 sits far
    # above double noise and far below any real rate change)
    flat_spike = ((cnt >= lookback) & (sd == 0)
                  & (F.col("rate") > mean + F.lit(1e-9)))
    return (
        per.withColumn("zscore", zscore)
        .withColumn("is_anomaly",
                    F.coalesce(F.col("zscore") > z, F.lit(False))
                    | F.coalesce(flat_spike, F.lit(False)))
    )


def stream_anomaly_sink(
    state_path: str,
    out_path: str,
    window: str = "1 hour",
    error_type: str = "error",
    lookback: int = 6,
    z: float = 2.0,
    ts_col: str = "ts",
    type_col: str = "event_type",
    compact_after: int = 64,
    level_bytes: int = 64 * 1024 * 1024,
    seasonal: bool = False,
    fs=None,
):
    """Continuous error-rate anomaly detection — the ``foreachBatch``
    twin of ``error_rate_anomalies``: each micro-batch's per-window
    counts land as an additive partial under ``state_path`` (a
    ``batch={batch_id}`` directory the state root names once committed,
    so an at-least-once replay never double-counts), the partials are
    re-summed per window, and the SAME rolling-z detector the batch path
    uses rewrites the full anomaly table at ``out_path``. Stream equals
    batch by construction: both compose ``_event_window_counts`` +
    ``_anomalies_from_counts`` (pinned by test).

    Late events just add another partial to their window — the next
    refresh re-flags history with the updated rates (anomaly flags are
    DERIVED state, rebuilt every batch; the rebuild cost rides the
    number of time windows, which is time-bounded — a year of hours is
    8.8k rows — not event-volume-bounded). A crash between the state
    commit and the output write leaves ``out_path`` one batch stale; the
    replay (which skips the state write of a batch the root already
    names) or the next batch rewrites it — convergent, never corrupt.

    State: the ``_state.json`` root names the live partial and level
    directories and commits through ``fs.publish`` (the protocol in the
    module header): readers never list, a crash at any step leaves
    exactly-once counts, and once more than ``compact_after`` committed
    partials are named the commit folds them into a size-tiered level
    (``level_bytes``), so the state never grows one directory per
    micro-batch forever."""

    def fold(df):
        return (df.groupBy("window_start")
                .agg(F.sum("n").cast("long").alias("n"),
                     F.sum("n_errors").cast("long").alias("n_errors")))

    def finalize(totals):
        # seasonal=True: the hour-of-day detector (see
        # seasonal_error_anomalies) — derived per refresh from the same
        # additive window counts, so the twin property is free
        if seasonal:
            totals = totals.withColumn("hour_of_day",
                                       F.hour("window_start"))
            return _anomalies_from_counts(totals, lookback, z,
                                          season="hour_of_day")
        return _anomalies_from_counts(totals, lookback, z)

    return _partial_state_sink(
        state_path, out_path,
        partial_fn=lambda b: _event_window_counts(
            b, window, error_type, ts_col, type_col),
        fold_fn=fold,
        finalize_fn=finalize,
        compact_after=compact_after, level_bytes=level_bytes,
        fs=fs)


def _partial_state_sink(state_path, out_path, partial_fn, fold_fn,
                        finalize_fn, compact_after=64,
                        level_bytes=64 * 1024 * 1024, fs=None):
    """The shared engine of the additive-partial ``foreachBatch`` sinks
    (anomaly / funnel / retention): each micro-batch's ``partial_fn``
    output lands batch-keyed under ``state_path`` and commits through
    the state root (a replay never counts twice), committed partials fold
    generationally via ``fold_fn`` once their count crosses
    ``compact_after``, and the re-folded totals are finalized by
    ``finalize_fn`` into a full rewrite of ``out_path``.

    ``fold_fn`` must be a proper merge: fold(fold(A) ∪ fold(B)) ==
    fold(A ∪ B) (sums, mins, distincts all qualify). ``finalize_fn``
    receives the folded totals and returns the output table; derived
    state is rebuilt every batch, so late data re-derives history by
    construction. Per batch: one root GET, the partial write and one
    root CAS (none for a replay of a committed batch), then the output
    rewrite — no LIST, ``isdir`` or marker probe. Crash/replay
    semantics are documented on ``stream_anomaly_sink`` (whose tests
    pin this engine) and the state protocol in the module header."""
    from metrique_spark.fs import LocalFS
    from metrique_spark.functions.cache import release

    fs = fs or LocalFS()

    def _sink(batch_df: DataFrame, batch_id: int):
        if batch_df.isEmpty():
            return
        spark = batch_df.sparkSession
        raw, root = _state_root(fs, state_path, batch_id)  # refuses first
        part = f"batch={batch_id}"
        if part not in root["parts"]:
            partial_fn(batch_df).write.mode("overwrite").parquet(
                fs.join(state_path, part))
            # fold_fn's merge contract — fold(fold(A) ∪ fold(B)) ==
            # fold(A ∪ B) — is exactly what makes re-folding two levels
            # together sound
            def _write_fold(src_names, out_name):
                fold_fn(spark.read.parquet(
                    *[fs.join(state_path, n) for n in src_names])
                ).write.mode("overwrite").parquet(
                    fs.join(state_path, out_name))

            root = _commit_batch(
                fs, state_path, _STATE_ROOT, raw, root, batch_id,
                compact_after, write_fold=_write_fold,
                du=lambda n: fs.du(fs.join(state_path, n)),
                level_bytes=level_bytes)
        out = finalize_fn(fold_fn(spark.read.parquet(
            *[fs.join(state_path, p) for p in root["parts"]])))
        out.write.mode("overwrite").parquet(out_path)
        release(out)  # finalizers may persist stages (funnel)

    return _sink


def stream_funnel_sink(
    state_path: str,
    out_path: str,
    steps: tuple = ("view", "click", "purchase"),
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    compact_after: int = 64,
    level_bytes: int = 64 * 1024 * 1024,
    fs=None,
):
    """Continuous funnel conversion — the ``foreachBatch`` twin of
    ``funnel``: partials are the DISTINCT (user, ts, step) triples of
    funnel-step events (the minimal exact statistic — see
    ``_funnel_partials`` for why per-user mins are not sufficient under
    late data), merged by union+distinct, finalized by the SAME
    stage-join funnel the batch path uses. Stream equals batch by
    construction (pinned by test).

    State rides the distinct step-event volume — the off-step bulk of
    the stream never lands. Replay, crash-convergence, and generational
    compaction semantics are ``stream_anomaly_sink``'s (shared engine:
    ``_partial_state_sink``)."""
    return _partial_state_sink(
        state_path, out_path,
        partial_fn=lambda b: _funnel_partials(
            b, steps, user_col, ts_col, type_col),
        fold_fn=lambda df: df.distinct(),
        finalize_fn=lambda ev: _funnel_from_partials(ev, steps),
        compact_after=compact_after, level_bytes=level_bytes,
        fs=fs)


def stream_retention_sink(
    state_path: str,
    out_path: str,
    period: str = "week",
    user_col: str = "user_id",
    ts_col: str = "ts",
    compact_after: int = 64,
    level_bytes: int = 64 * 1024 * 1024,
    fs=None,
):
    """Continuous cohort retention — the ``foreachBatch`` twin of
    ``retention_cohorts``: partials are per-(user, activity period) min
    timestamps (compact: O(users × active periods)), merged by a
    (u, tp) min — commutative, associative, AND idempotent, so replays
    fold exactly — finalized by the SAME triangle builder the batch path
    uses. Stream equals batch by construction (pinned by test). Late
    events that predate a user's known first activity re-assign their
    cohort on the next refresh — derived state is rebuilt every batch.

    Replay, crash-convergence, and generational compaction semantics are
    ``stream_anomaly_sink``'s (shared engine: ``_partial_state_sink``)."""
    # validate eagerly — inside the sink the error would surface on the
    # first micro-batch, after the stream has already started
    if period not in ("day", "week", "month"):
        raise ValueError(
            f"stream_retention_sink: unsupported period {period!r} "
            "(day, week, month)")

    def fold(df):
        return df.groupBy("u", "tp").agg(F.min("mt").alias("mt"))

    return _partial_state_sink(
        state_path, out_path,
        partial_fn=lambda b: _retention_partials(
            b, period, user_col, ts_col),
        fold_fn=fold,
        finalize_fn=lambda parts: _retention_from_partials(parts, period),
        compact_after=compact_after, level_bytes=level_bytes,
        fs=fs)


def event_paths(
    events: DataFrame,
    k: int = 3,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_users: int = 1,
    prune_salts: int = 32,
) -> DataFrame:
    """Path analysis: the distribution of each user's FIRST ``k`` event
    types in arrival order — "what do journeys look like before users
    convert or churn". Output: one row per distinct path string
    (``'view>cart>purchase'``) with the number of users who took it.

    Ordering is (ts, event_id) — the id breaks same-timestamp ties so
    the path is deterministic under any partitioning.

    Scale shape, bot-skew-safe: a per-(user, salt) pre-prune window
    first — the global first-k is a subset of the union of per-subset
    first-k's, so rows beyond local rank k can never rank ≤ k globally —
    with a deterministic event-id hash salt spreading one user across
    ``prune_salts`` tasks. A 10M-event bot therefore costs 10M/salts
    rows per sort task and contributes ≤ k·salts rows to the global
    user window, instead of one 10M-row sorted task. The survivor
    groupBy reuses the global window's hash partitioning (no extra
    user exchange); path building is ``array_sort(collect(struct(rn,
    type)))`` over ≤ k elements and the final path count is
    map-combinable."""
    firstk = _firstk_events(events, k, user_col, type_col, ts_col,
                            id_col, prune_salts)
    return _paths_from_firstk(firstk, min_users)


def _firstk_events(events: DataFrame, k: int, user_col: str,
                   type_col: str, ts_col: str, id_col: str,
                   prune_salts: int) -> DataFrame:
    """Each user's first ``k`` events as (u, t, eid, ty, rn) — the
    salted pre-prune + global per-user rank described on
    ``event_paths``. Also the stream sink's per-batch partial AND its
    fold: keep-k-earliest is a proper top-k merge (the k earliest of a
    union are among the union of each side's k earliest)."""
    from pyspark.sql import Window

    salt = F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                  F.lit(prune_salts))
    lw = Window.partitionBy(user_col, "__salt").orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc())
    pruned = (events
              .withColumn("__salt", salt)
              .withColumn("__lrn", F.row_number().over(lw))
              .where(F.col("__lrn") <= k)
              .drop("__salt", "__lrn"))
    w = Window.partitionBy(user_col).orderBy(
        F.col(ts_col).asc(), F.col(id_col).asc())
    return (pruned
            .select(F.col(user_col).alias("u"),
                    F.col(ts_col).cast("timestamp").alias("t"),
                    F.col(id_col).alias("eid"),
                    F.col(type_col).alias("ty"),
                    F.row_number().over(w).alias("rn"))
            .where(F.col("rn") <= k))


def _paths_from_firstk(firstk: DataFrame, min_users: int) -> DataFrame:
    """Path strings + user counts from (u, ty, rn) first-k rows —
    shared by the batch operator and the stream sink's finalizer."""
    paths = firstk.groupBy("u").agg(
        F.array_join(
            F.transform(
                F.array_sort(F.collect_list(F.struct("rn", "ty"))),
                lambda s: s["ty"]),
            ">").alias("path"))
    return (paths.groupBy("path")
            .agg(F.count("*").alias("n_users"))
            .where(F.col("n_users") >= min_users)
            .select("path", F.col("n_users").cast("long").alias("n_users")))


def stream_transitions_sink(
    state_path: str,
    out_path: str,
    user_col: str = "user_id",
    ts_col: str = "ts",
    type_col: str = "event_type",
    id_col: str = "event_id",
    decimals: int = 4,
    compact_after: int = 64,
    level_bytes: int = 64 * 1024 * 1024,
    fs=None,
):
    """Continuous transition matrix — the ``foreachBatch`` twin of
    ``event_transitions``. Consecutive-pair counts are NOT additive
    across micro-batches (a pair can span a batch boundary, and a late
    event SPLITS an existing pair into two), so the partial is the
    minimal exact statistic: the DISTINCT normalized (u, t, eid,
    from_type) events themselves, merged by union+distinct (idempotent
    under replay), finalized by the SAME lead-window + normalize the
    batch path uses — stream equals batch by construction, late data
    re-derives the matrix on the next refresh.

    State rides the distinct event volume of transition-relevant
    columns (4 slim columns, not the payload); for bounded state on
    unbounded streams, window the input upstream. Replay,
    crash-convergence, and generational compaction semantics are
    ``stream_anomaly_sink``'s (shared engine: ``_partial_state_sink``)."""
    def partial(b: DataFrame) -> DataFrame:
        return b.select(F.col(user_col).alias("u"),
                        F.col(ts_col).cast("timestamp").alias("t"),
                        F.col(id_col).alias("eid"),
                        F.col(type_col).alias("from_type")).distinct()

    return _partial_state_sink(
        state_path, out_path,
        partial_fn=partial,
        fold_fn=lambda df: df.distinct(),
        finalize_fn=lambda ev: _transitions_from_events(ev, decimals),
        compact_after=compact_after, level_bytes=level_bytes,
        fs=fs)


def stream_paths_sink(
    state_path: str,
    out_path: str,
    k: int = 3,
    user_col: str = "user_id",
    type_col: str = "event_type",
    ts_col: str = "ts",
    id_col: str = "event_id",
    min_users: int = 1,
    prune_salts: int = 32,
    compact_after: int = 64,
    level_bytes: int = 64 * 1024 * 1024,
    fs=None,
):
    """Continuous first-k path distribution — the ``foreachBatch`` twin
    of ``event_paths``. Partials are each user's k earliest (t, eid,
    ty) events WITHIN the batch (the same salted bot-skew-safe pre-prune
    the batch path uses), folded by distinct + keep-k-earliest — a
    proper top-k merge, and idempotent because a replayed batch's
    duplicates vanish in the distinct. State is therefore ≤ k rows per
    user regardless of stream length. A late event that belongs in a
    user's true first k displaces a later one at the next fold —
    derived paths are rebuilt every batch, so history re-derives by
    construction. Finalized by the SAME path builder the batch path
    uses: stream equals batch by construction (pinned by test)."""
    def partial(b: DataFrame) -> DataFrame:
        return _firstk_events(b, k, user_col, type_col, ts_col, id_col,
                              prune_salts).drop("rn")

    def fold(df: DataFrame) -> DataFrame:
        return _firstk_events(df.distinct(), k, "u", "ty", "t", "eid",
                              prune_salts).drop("rn")

    def finalize(state: DataFrame) -> DataFrame:
        firstk = _firstk_events(state, k, "u", "ty", "t", "eid",
                                prune_salts)
        return _paths_from_firstk(firstk, min_users)

    return _partial_state_sink(
        state_path, out_path,
        partial_fn=partial, fold_fn=fold, finalize_fn=finalize,
        compact_after=compact_after, level_bytes=level_bytes,
        fs=fs)
