"""Deduplication operators: exact, n-gram Jaccard, MinHash+LSH, SimHash.

Scale design:

- exact dedup is a hash-groupBy — one shuffle on the fingerprint, the
  minimum possible; at 100 TB this is the same plan with more partitions.
- MinHash signatures are computed as 64 codegen'd ``min(xxhash64(h, i))``
  aggregates over exploded shingle hashes, written as SQL text generated
  once per ``(num_hashes, bands)`` (all JVM-side, zero Python;
  higher-order-function lambdas were measured ~10× slower because they
  evaluate interpreted, outside whole-stage codegen). LSH banding turns
  all-pairs O(n²) into a group-by on (band, band-hash): candidate
  generation moves only signature-sized rows, never document text.
- candidate verification joins shingle sets back by id and computes
  exact Jaccard — so output precision is exact; recall is the usual LSH
  bound.
- one plan, two widths: an input whose measured size is small
  (``_one_partition``) runs the whole MinHash pass and
  ``canonical_docs``' decoration in one partition, with no shuffle
  exchange and no broadcast; a larger one, or one of unknown size, runs
  the same operators shuffled.
- SimHash packs token hashes into a 64-bit signature via a vectorized
  pandas UDF (bit-twiddling has no clean Column form); near-dup = hamming
  distance on the signature, again banded to avoid all-pairs.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from metrique_spark.functions.text import fingerprint, tokens, tokens_sql


# ---------------------------------------------------------------------------
# exact


def exact_duplicates(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text") -> DataFrame:
    """Groups of exact duplicates by canonical-token fingerprint: one row
    per duplicated fingerprint with the sorted member ids.

    The member-id list is DIAGNOSTIC output (inspection/reporting): it
    materializes one array per fingerprint, so a pathological cluster (a
    page crawled a billion times) concentrates in one aggregation
    buffer. The dedup DECISION path never needs the list — use
    ``dedup_exact`` (min + semi-join, fully map-side-combinable) to drop
    duplicates at scale."""
    return (
        df.select(F.col(id_col), fingerprint(text_col).alias("fp"))
        .groupBy("fp")
        .agg(F.sort_array(F.collect_list(id_col)).alias("ids"),
             F.count("*").alias("n"))
        .where(F.col("n") > 1)
    )


def dedup_exact(df: DataFrame, id_col: str = "doc_id",
                text_col: str = "text") -> DataFrame:
    """Keep the lowest-id representative per fingerprint (deterministic).

    min-aggregate + semi-join rather than a per-fingerprint window: the
    aggregate combines map-side, so a degenerate cluster (a boilerplate
    page crawled a billion times — one fingerprint) costs shuffle volume
    proportional to map partitions, where the window form would sort the
    whole cluster in ONE task."""
    keep = (
        df.select(fingerprint(text_col).alias("__kfp"),
                  F.col(id_col).alias("__kid"))
        .groupBy("__kfp").agg(F.min("__kid").alias("__kid"))
    )
    return (
        df.withColumn("__fp", fingerprint(text_col))
        .join(keep, F.col("__fp").eqNullSafe(F.col("__kfp"))
              & (F.col(id_col) == F.col("__kid")), "semi")
        .drop("__fp")
    )


# ---------------------------------------------------------------------------
# shingles / n-gram jaccard


def _shingle_sql(toks: str, n: int) -> str:
    """Distinct word n-gram shingles of the token array ``toks`` (SQL
    text): a sliding window over the index range, short documents
    guarded (``sequence(0, -1)`` would count DOWN, not produce empty)."""
    if n == 1:
        return f"array_distinct({toks})"
    return (f"array_distinct(transform(CASE WHEN size({toks}) >= {n} THEN "
            f"sequence(0, size({toks}) - {n}) ELSE CAST(array() AS "
            f"array<int>) END, i -> array_join(slice({toks}, i + 1, {n}),"
            f" ' ')))")


def word_shingles(text_col: str, n: int = 3) -> Column:
    """Distinct word n-gram shingles of the canonical token stream.
    Convenience form — it tokenizes once per window position; for
    anything hot, materialize tokens first via ``shingle_table``."""
    return F.expr(_shingle_sql(f"({tokens_sql(text_col)})", n))


_SHUFFLE_NODE_RE = None


def _has_exchange(df: DataFrame) -> bool:
    """Whether the OPTIMIZED logical plan contains a shuffle-inducing
    operator — checked WITHOUT executing anything. ``spread_small_scan``
    asks before it probes ``DataFrame.rdd``, which under AQE
    materializes the plan's query stages, i.e. RUNS the upstream
    shuffles as real jobs at plan-BUILD time (measured: several seconds
    and a dozen phantom jobs per query whose input rode through a
    join)."""
    global _SHUFFLE_NODE_RE
    if _SHUFFLE_NODE_RE is None:
        import re

        _SHUFFLE_NODE_RE = re.compile(
            r"\b(Join|Aggregate|Window|Repartition|RepartitionByExpression"
            r"|Sort|Deduplicate|Intersect|Except|GlobalLimit)\b")
    try:
        tree = df._jdf.queryExecution().optimizedPlan().treeString()
    except Exception:
        return True  # can't tell: stay on the safe, probe-free path
    return _SHUFFLE_NODE_RE.search(tree) is not None


_SPREAD_CHUNK_CONF = "spark.metrique.spread.chunkBytes"
_SPREAD_CHUNK_DEFAULT = 32 * 1024


def spread_small_scan(df: DataFrame, min_parts: int | None = None) -> DataFrame:
    """Repartition a small scan to a width derived from its BYTE SIZE.

    A single-row-group parquet file scans as ONE task, serializing every
    downstream narrow op (regex tokenization is the expensive case) onto
    one core — measured 8× on the sf0.1 documents table. The target
    width is ``clamp(ceil(scan_bytes / chunkBytes), 1, cores)`` rather
    than a flat ``cores``: per-task fixed overhead dominates tiny
    inputs, so over-spreading them burns CPU for no wall — measured at
    sf0.1 (600–800 KB inputs), width 8 beat width 32 on BOTH wall and
    task CPU for every tokenize/hash-heavy query (contamination 9→2.0
    CPU-s, ivfpq 10→2.2), because 32 tasks of ~60 rows pay more in
    scheduling/codegen-init/GC than they win in parallelism. The size
    comes from the optimized plan's statistics (file-listing bytes — no
    job), the chunk from ``spark.metrique.spread.chunkBytes`` (default
    32 KiB of (column-pruned) scan statistics per task; a non-numeric,
    zero or negative setting falls back to it). At real scale the input
    has thousands of splits ≥ cores and this is an exact no-op (we
    never coalesce), so the constant only governs the small-input
    regime; unknown/absent statistics fall back to the flat-``cores``
    target.

    Callers: ``shingle_table`` (``jaccard_pairs``, ``minhash_index``,
    ``dedup_against_index``, and the MinHash pass over an input too big
    for one partition — a smaller one is read into one partition
    instead, see ``_one_partition``) and the entry module's text-feature
    queries.

    Inputs that already carry a shuffle are returned UNCHANGED without
    probing: their partitioning is governed by shuffle config/AQE (never
    a single unsplittable row group), and the ``rdd`` partition probe
    would otherwise execute the upstream stages at build time under AQE
    (see ``_has_exchange``)."""
    if _has_exchange(df):
        return df
    cap = df.sparkSession.sparkContext.defaultParallelism
    if min_parts is not None:
        target = min_parts
    else:
        try:
            size = int(df._jdf.queryExecution().optimizedPlan()
                       .stats().sizeInBytes())
        except Exception:
            size = -1
        if size <= 0 or size >= (1 << 50):  # unknown / default-huge
            target = cap
        else:
            from metrique_spark.functions.cache import _chunk_bytes

            chunk = _chunk_bytes(df.sparkSession, _SPREAD_CHUNK_CONF,
                                 _SPREAD_CHUNK_DEFAULT)
            target = max(1, min(cap, -(-size // chunk)))
    if target > 1 and df.rdd.getNumPartitions() < target:
        return df.repartition(target)
    return df


def _shingle_table(df: DataFrame, id_col: str, text_col: str, n: int,
                   one: bool) -> DataFrame:
    """(id, sh) of ``df`` in one partition (``one``, see
    ``_one_partition``) or at ``spread_small_scan``'s width, with
    tokenization and shingling in separate projection steps. The
    two-step shape is load-bearing for performance: an alias referenced
    many times downstream is kept materialized by CollapseProject only
    because the producing expression is non-cheap — inlining the regexp
    into consumers multiplies the tokenization cost by the consumer
    count."""
    src = df.select(F.col(id_col).alias("id"), F.col(text_col).alias("__text"))
    src = src.coalesce(1) if one else spread_small_scan(src)
    return (src.selectExpr("id", f"{tokens_sql('__text')} AS __toks")
            .selectExpr("id", f"{_shingle_sql('__toks', n)} AS sh"))


def shingle_table(df: DataFrame, id_col: str, text_col: str, n: int) -> DataFrame:
    """(id, sh) projection of ``df`` at ``spread_small_scan``'s width
    (see ``_shingle_table``)."""
    return _shingle_table(df, id_col, text_col, n, False)


def jaccard_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 1,
    max_doc_freq: int | None = None,
    persist_shingles: bool = False,
) -> DataFrame:
    """All-pairs word-set Jaccard via token inverted index (exact).

    Plan: explode distinct shingles → self-join on shingle (the inverted
    index co-locates matching docs — shuffle on shingle, never a cartesian)
    → count intersections per pair → Jaccard from per-doc set sizes.
    Returns (id_a, id_b, jaccard) with id_a < id_b, rounded to 4dp.

    ``max_doc_freq`` caps the index by dropping shingles appearing in more
    than that many docs (stop-shingles). A shingle in k docs contributes
    k² join rows — one ultra-frequent shingle is the whole skew story at
    100 TB. Dropping them undercounts intersections slightly (Jaccard
    becomes a lower bound), which is the standard recall/cost trade;
    leave None for exact results.

    ``persist_shingles``: materialize the shingle table (MEMORY_AND_DISK)
    when the returned pairs feed multiple actions. Off by default —
    measured neutral for a single-action pipeline (exchange reuse already
    dedupes the self-join subtree).

    Set sizes ride the inverted index: each exploded (id, tok) row
    carries its doc's distinct-shingle count, so the pair aggregation
    produces intersection AND both union terms in one pass — one int per
    index row through the shuffle. The alternative (join pair ids back
    to a per-doc size table) either broadcasts one row PER DOCUMENT —
    a multi-GB broadcast at 1B docs, a hard scale wall — or adds two
    more shuffles, and re-runs tokenization once per join build.
    """
    sh = shingle_table(df, id_col, text_col, n).withColumn("sz", F.size("sh"))
    if persist_shingles:
        from pyspark import StorageLevel

        from metrique_spark.functions.cache import narrow_small

        sh = narrow_small(sh).persist(StorageLevel.MEMORY_AND_DISK)
    # explode_outer, NOT explode: plain explode makes Catalyst infer a
    # size(sh)>0 filter and push it below the repartition exchange, where
    # it re-runs the whole tokenize+shingle expression inside the
    # single-task scan stage (measured 5s of 6 at sf0.1). explode_outer
    # infers nothing; dropping the null slot afterwards is identical.
    inv = (sh.select("id", "sz", F.explode_outer("sh").alias("tok"))
           .where(F.col("tok").isNotNull()))
    if max_doc_freq is not None:
        freq = inv.groupBy("tok").agg(F.count("*").alias("__df"))
        inv = (
            inv.join(freq.where(F.col("__df") <= max_doc_freq), "tok", "left_semi")
        )
    pairs = (
        inv.alias("a")
        .join(inv.alias("b"), (F.col("a.tok") == F.col("b.tok"))
              & (F.col("a.id") < F.col("b.id")))
        .groupBy(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .agg(F.count("*").alias("inter"),
             F.min("a.sz").alias("sz_a"),   # constant within the group
             F.min("b.sz").alias("sz_b"))
    )
    out = (
        pairs.withColumn(
            "jaccard",
            F.round(F.col("inter") / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4),
        )
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )
    return out


# ---------------------------------------------------------------------------
# MinHash + LSH


def signature_from_shingles(sh: Column, num_hashes: int = 64) -> Column:
    """MinHash signature as array<bigint>: for hash i, min over shingles of
    ``xxhash64(shingle, i)``. Pure higher-order functions — executes inside
    codegen, no UDF. ``sh`` should be a materialized column reference (see
    ``shingle_table``): it is evaluated inside ``num_hashes`` lambdas."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(num_hashes - 1)),
        lambda i: F.array_min(F.transform(sh, lambda s: F.xxhash64(s, i))),
    )


def minhash_signature(text_col: str, num_hashes: int = 64, shingle_n: int = 3) -> Column:
    """Convenience single-expression form (tests/small data only — inlines
    shingling into every hash lambda; hot paths go through
    ``shingle_table`` + ``signature_from_shingles``)."""
    return signature_from_shingles(word_shingles(text_col, shingle_n), num_hashes)


_BAND_SQL: dict[tuple[int, int], str] = {}


def _band_sql(num_hashes: int, bands: int) -> str:
    """The aggregate text of one document's band structs: signature
    entry i is ``min(xxhash64(h, i))`` over its shingle hashes ``h``,
    and band b's hash is the multi-argument ``xxhash64`` of its
    ``num_hashes/bands`` entries. Generated once per ``(num_hashes,
    bands)`` and kept as text, which holds no JVM object."""
    key = (num_hashes, bands)
    if key not in _BAND_SQL:
        r = num_hashes // bands
        structs = ", ".join(
            f"named_struct('band', {b}, 'bh', xxhash64("
            + ", ".join(f"min(xxhash64(h, {b * r + j}))" for j in range(r))
            + "))"
            for b in range(bands))
        _BAND_SQL[key] = f"array({structs}) AS bb"
    return _BAND_SQL[key]


def banded_hashes(sh: DataFrame, num_hashes: int = 64,
                  bands: int = 16) -> DataFrame:
    """(id, band, bh) LSH band rows from a ``shingle_table``. This is the
    one place band hashing is defined, so an index built today and a batch
    signed tomorrow agree bit-for-bit.

    Signature via explode + hash-aggregate, NOT higher-order lambdas:
    transform/aggregate lambdas are interpreted per element (no
    whole-stage codegen), which measured ~10s for 5k docs. Exploding to
    (id, shingle-hash) rows and taking the ``num_hashes`` codegen'd min()
    aggregates of ``_band_sql`` is the same math entirely inside Tungsten
    hash-agg — map-side partial aggregation shrinks a shuffle to one row
    per doc, and over one partition there is none.
    explode_outer + null-drop: see ``jaccard_pairs`` — plain explode makes
    the optimizer re-run the shingle expression below the exchange."""
    return (sh.selectExpr("id", "explode_outer(sh) AS tok")
            .where("tok IS NOT NULL")
            .selectExpr("id", "xxhash64(tok) AS h")
            .groupBy("id").agg(F.expr(_band_sql(num_hashes, bands)))
            .selectExpr("id", "inline(bb)"))


# Leaves whose byte statistic measures their data: file scans (on-disk
# bytes), checkpoints and caches (the statistic of the plan they hold). A
# ``Range`` or a local relation counts a type's default size per row
# (8 bytes a bigint, 20 a string), whatever text the plan builds.
_SIZED_LEAVES = ("LogicalRelation", "HiveTableRelation",
                 "DataSourceV2Relation", "DataSourceV2ScanRelation",
                 "LogicalRDD", "InMemoryRelation")
# Input bytes up to which the pass runs in one partition: the largest
# measured size at which one partition still beat the shuffled plan on
# wall time at both 2 and 4 task slots. Measured on a 4-vCPU host over
# ``perfbench``'s 80-word corpus read from parquet (1.3 on-disk bytes
# per text byte), warm MinHash pairs: at 1.7 MB one partition took
# 0.68-0.87 s against 0.96-1.07 s shuffled at local[4] (0.71-0.91 s
# against 1.06-1.74 s at local[2]); at 6.8 MB, 1.72-1.82 s against
# 1.32-1.41 s at local[4] (1.66-2.46 s against 2.40-2.68 s at
# local[2]). One partition used less engine CPU at every size up to
# 27 MB. ``bench.py``'s sf0.1 ``dedup_minhash_pairs`` (594 KB) runs in
# 1.06-1.31 s in one partition at local[4], where the previous plan at
# ``spread_small_scan``'s width took 1.82-3.03 s.
_ONE_PARTITION_BYTES = 2 << 20


def _one_partition(df: DataFrame) -> bool:
    """Whether the MinHash pass (or ``canonical_docs``) over ``df`` runs
    in ONE partition: True when the optimized plan's leaf bytes
    (``cache._leaf_scan_bytes`` over ``_SIZED_LEAVES``) are at most
    ``_ONE_PARTITION_BYTES``. There the signature and bucket
    aggregates, the candidate ``distinct``, the verify join and
    ``canonical_docs``' decoration plan with no shuffle exchange, and
    the job AQE runs for each exchange's map stage goes with it. An
    input of unknown size — any other leaf, a ``Range`` or a local
    relation among them — or a larger one keeps ``spread_small_scan``'s
    width and the shuffled plan. A leaf's bytes can still understate
    the text: compressed parquet, or a checkpoint of a plan that
    generated its text from a ``Range``."""
    from metrique_spark.functions.cache import _leaf_scan_bytes

    return 0 < _leaf_scan_bytes(df, _SIZED_LEAVES) <= _ONE_PARTITION_BYTES


def _side(df: DataFrame, one: bool) -> DataFrame:
    """A join's right side: in one partition a merge join, which needs
    no exchange there, where a broadcast would run a job of its own."""
    return df.hint("merge") if one else df


def _lsh_candidates(sh: DataFrame, num_hashes: int, bands: int,
                    max_band_bucket: int | None) -> DataFrame:
    """Distinct (id_a, id_b) LSH candidates of a shingle table (see
    ``minhash_lsh_candidates``): each (band, bh) bucket's sorted ids,
    a bucket over ``max_band_bucket`` dropped, then every id pair of a
    bucket — each id against the ids after it, one generated row per
    pair, so a bucket of k ids never holds its k(k-1)/2 pairs at once.
    One aggregate over the band rows, so they are signed once and read
    once; a self-join on (band, bh) would read them twice, and the
    planner sizes its output as the product of both sides, which puts
    exchanges under the verify join even in one partition. A bucket's
    ids are gathered (8 bytes each for bigint ids) before the cap drops
    it."""
    buckets = (banded_hashes(sh, num_hashes, bands)
               .groupBy("band", "bh")
               .agg(F.expr("array_sort(collect_list(id)) AS ids")))
    if max_band_bucket is not None:
        buckets = buckets.where(f"size(ids) <= {int(max_band_bucket)}")
    return (buckets.selectExpr("ids", "posexplode(ids) AS (i, id_a)")
            .selectExpr("id_a",
                        "explode(slice(ids, i + 2, size(ids))) AS id_b")
            .where("id_a < id_b")
            .distinct())


def minhash_lsh_candidates(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_band_bucket: int | None = 100_000,
) -> DataFrame:
    """LSH candidate pairs: split the signature into ``bands`` rows of
    ``num_hashes/bands``, hash each band, group by (band, hash). Returns
    distinct (id_a, id_b) with id_a < id_b, at ``minhash_dedup_pairs``'
    width (``_one_partition``).

    ``max_band_bucket`` drops (band, bh) buckets larger than the cap
    before their ids are paired — the batch-mode twin of the incremental
    path's guard. The blowup regime is real corpora, not an edge case: a
    TEMPLATED cluster sitting just UNDER the verify threshold (half the
    shingles shared — boilerplate pages, generated docs) collides in
    some band with probability ~(j^(hashes/bands))·bands per pair, and a
    50k-doc template cluster then emits ~10^9 candidate pairs that
    verification rejects one by one (measured: a 50k-doc batch of
    j≈0.5 template docs DID NOT FINISH in 10 min unguarded; ~150 s
    through the full streaming-dedup sink with the cap). A
    dropped bucket only loses pairs that never share a cooler band —
    sub-threshold template noise by construction; genuinely identical
    docs should be removed by ``dedup_exact`` upstream, which remains
    the intended order."""
    return _lsh_candidates(
        _shingle_table(df, id_col, text_col, shingle_n, _one_partition(df)),
        num_hashes, bands, max_band_bucket)


def minhash_dedup_pairs(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 1,
    persist_shingles: bool = True,
    max_band_bucket: int | None = 100_000,
) -> DataFrame:
    """MinHash-LSH candidates verified by exact Jaccard ≥ threshold.
    Precision is exact (verification step); recall follows the LSH band
    curve. Verification only touches candidate ids: each candidate pair
    meets the shingle table once per side, never document text.

    Width (``_one_partition``): an input whose leaves measure at most
    ``_ONE_PARTITION_BYTES`` is read into one partition, where the
    whole pass plans with no shuffle exchange and no broadcast, so
    materializing the result is one Spark job; a larger one, or one of
    unknown size, keeps ``spread_small_scan``'s width and the shuffled
    plan. Either way the plan is built from a few SQL-text projections
    (a few hundred Py4J round trips) and runs no job until the caller
    acts on it. Ids need not be unique: a pair whose id several input
    rows share is verified once per pair of rows.

    The shingle table feeds two consumers (the signatures and the verify
    join); ``persist_shingles`` holds it — a lazy
    ``cache.local_checkpoint`` in one partition, a MEMORY_AND_DISK
    persist (spills rather than OOMs at scale) otherwise — so the first
    consumer tokenizes once and the other reads the blocks (measured
    2.5-3× end-to-end at sf0.1, with three consumers). The one-partition
    blocks are not fault tolerant: Spark cannot recompute a local
    checkpoint, so losing the executor that holds them (preemption,
    dynamic allocation) fails the job that reads the result, where the
    persisted table would be recomputed. The result is
    ``cache``-tracked: call ``release(result)`` after materializing it
    to free those blocks; acting on a released one-partition result
    raises, it does not recompute. Pass False for one-shot pipelines
    that must not hold the shingle table in executor storage."""
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import (local_checkpoint,
                                                narrow_small, track)

    one = _one_partition(df)
    sh = _shingle_table(df, id_col, text_col, shingle_n, one)
    tracked = []
    if persist_shingles and one:
        # written by the first job that reads it; read through
        # coalesce(1), which tells the planner it is one partition (a
        # cached scan would run a job of its own under AQE)
        tracked.append(local_checkpoint(sh))
        sh = tracked[0].coalesce(1)
    elif persist_shingles:
        sh = narrow_small(sh).persist(StorageLevel.MEMORY_AND_DISK)
        tracked.append(sh)
    cand = _lsh_candidates(sh, num_hashes, bands, max_band_bucket)
    # one join brings both shingle sets: each candidate meets the table
    # once per side and regroups, where a second join on id_b would have
    # a join below it, whose size the planner estimates as a product
    # (an exchange even in one partition). Each side keeps a list, so an
    # id that several input rows share is verified once per pair of
    # rows, as two joins would
    return track(
        cand.selectExpr("id_a", "id_b", "explode(array(id_a, id_b)) AS id")
        .join(_side(sh, one), "id")
        .groupBy("id_a", "id_b")
        .agg(F.expr("collect_list(IF(id = id_a, sh, NULL)) AS sa"),
             F.expr("collect_list(IF(id = id_b, sh, NULL)) AS sb"))
        .selectExpr("id_a", "id_b", "explode(sa) AS a", "sb")
        .selectExpr("id_a", "id_b", "a", "explode(sb) AS b")
        .selectExpr("id_a", "id_b",
                    "round(size(array_intersect(a, b))"
                    " / size(array_union(a, b)), 4) AS jaccard")
        .where(F.col("jaccard") >= threshold),
        *tracked,
    )


_MINHASH_PARAMS_ATTR = "_minhash_params"
_MINHASH_ROOT = "_minhash.json"


def minhash_index(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", num_hashes: int = 64,
                  bands: int = 16, shingle_n: int = 3) -> DataFrame:
    """The persistable LSH index of a corpus: one (id, band, bh) row per
    band per document. Write it out (``write_minhash_index``) and
    incremental dedup never re-reads corpus text except to verify
    candidates. Append new accepted docs by indexing just the batch and
    unioning — signatures are content-hashes, so index rows never
    change, only accumulate.

    The signing parameters ride along as a ``_minhash_params`` attribute
    (and in the stored index's root): an index signed with non-default
    parameters but probed with defaults would produce near-zero-recall
    band collisions SILENTLY — ``dedup_against_index`` validates them
    instead."""
    out = banded_hashes(shingle_table(df, id_col, text_col, shingle_n),
                        num_hashes, bands)
    setattr(out, _MINHASH_PARAMS_ATTR,
            {"num_hashes": num_hashes, "bands": bands,
             "shingle_n": shingle_n})
    return out


def _minhash_root(fs, path: str) -> tuple[str | None, dict | None]:
    """``(text, root)`` of the MinHash index committed at ``path``, or
    ``(None, None)`` when nothing is. The ``_minhash.json`` root names
    the index's part directories and carries the signing params
    (``stream_dedup_sink`` keeps its state in the same root). An older
    form — parquet or a ``_minhash_params.json`` sidecar in the
    directory, no root — is refused, its data left in place."""
    import json

    try:
        raw = fs.read_text(fs.join(path, _MINHASH_ROOT))
    except FileNotFoundError:
        if any(d.endswith(".parquet") or d in ("_SUCCESS",
                                               "_minhash_params.json")
               for d in fs.listdir(path)):
            raise ValueError(
                f"MinHash index at {path!r} is an older on-disk form (no "
                f"{_MINHASH_ROOT} root) — rebuild it: write the index "
                "into an empty directory (a stream_dedup_sink index: "
                "remove its index, corpus and checkpoint directories and "
                "replay the stream); the old data is left in place"
            ) from None
        return None, None
    return raw, json.loads(raw)


def _minhash_frame(spark, fs, path: str, root: dict) -> DataFrame:
    """The rows of the part directories ``root`` names, with its
    signing params attached for ``dedup_against_index``."""
    out = spark.read.parquet(*[fs.join(path, p) for p in root["parts"]])
    if root["params"] is not None:
        setattr(out, _MINHASH_PARAMS_ATTR, root["params"])
    return out


def write_minhash_index(index: DataFrame, path: str,
                        mode: str = "overwrite", fs=None) -> None:
    """Persist an LSH index: its (id, band, bh) rows land in a fresh
    part directory, then ``fs.publish`` swaps the ``_minhash.json`` root
    that names the live parts and records the signing parameters, so a
    reader can never probe with mismatched (num_hashes, bands,
    shingle_n) and never sees a torn write. ``mode="overwrite"``
    replaces the named parts (and sweeps what crashed writes stranded);
    ``mode="append"`` adds one — the root's params must match
    (validated; appending rows signed differently would silently poison
    every probe). A crash at any point leaves the last committed index
    readable. A ``stream_dedup_sink``'s ``index_path`` is written by
    that sink only (a ValueError here). Root I/O goes through the
    control-plane ``fs`` backend (default ``LocalFS``)."""
    import json
    import uuid

    from metrique_spark.fs import LocalFS, publish, vacuum

    if mode not in ("overwrite", "append"):
        raise ValueError(
            f"write_minhash_index: mode must be 'overwrite' or 'append', "
            f"got {mode!r}")
    fs = fs or LocalFS()
    raw, root = _minhash_root(fs, path)
    if root and "gen" in root:
        raise ValueError(
            f"minhash index at {path!r} belongs to a stream_dedup_sink "
            "(its root carries the sink's state); only that sink writes it")
    params = getattr(index, _MINHASH_PARAMS_ATTR, None)
    old = root["parts"] if root else []
    if mode == "append" and root and root["params"] is not None:
        if params is not None and params != root["params"]:
            raise ValueError(
                f"minhash index at {path} was signed with "
                f"{root['params']}; refusing to append rows signed with "
                f"{params}")
        params = root["params"]
    part = f"part={uuid.uuid4().hex[:12]}"
    index.write.parquet(fs.join(path, part))
    parts = [*old, part] if mode == "append" else [part]
    publish(fs, path, _MINHASH_ROOT,
            json.dumps({"params": params, "parts": parts}), raw,
            set(old) - set(parts))
    if mode == "overwrite":
        vacuum(fs, path, {part, _MINHASH_ROOT})


def read_minhash_index(spark, path: str, fs=None) -> DataFrame:
    """Read a persisted LSH index — exactly the part directories its
    root names, with the signing parameters reattached so
    ``dedup_against_index`` can validate them. Reads a
    ``stream_dedup_sink``'s ``index_path`` too: its committed index."""
    from metrique_spark.fs import LocalFS

    fs = fs or LocalFS()
    _raw, root = _minhash_root(fs, path)
    if root is None:
        raise ValueError(f"no committed MinHash index at {path!r}")
    return _minhash_frame(spark, fs, path, root)


def dedup_against_index(
    batch: DataFrame,
    index: DataFrame,
    corpus: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    num_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
    max_band_bucket: int | None = 10_000,
    max_candidates_per_doc: int | None = 1_000,
) -> DataFrame:
    """Incremental dedup: flag each batch document that near-duplicates an
    already-ingested corpus (the recrawl case — dedup N new docs against
    B indexed ones without the B×B work). Returns
    ``(id_col, dup_of, jaccard)`` — the best corpus match ≥ ``threshold``
    per batch doc (ties broken toward the smallest corpus id); batch docs
    with no row are novel.

    Scale shape: only the BATCH is signed (shingle + signature cost is
    O(batch), not O(corpus)); candidates come from an equi-join of batch
    band rows against the index on (band, bh) — shuffle of band-sized
    rows only. Verification tokenizes exclusively the candidate corpus
    docs (semi-join first), so corpus text is touched proportionally to
    the duplicate rate, not the corpus size. Precision is exact
    (jaccard-verified); recall follows the LSH band curve.

    Skew guards (the text-LSH analog of hot IVF buckets — measured
    unbounded on a synthetic corpus where 10% of docs share a boilerplate
    prefix, where every batch doc collided with the ~100k-doc cluster in
    some band and candidate volume went |cluster|×|batch|):

    - ``max_band_bucket`` drops (band, bh) buckets holding more index
      entries than the cap before the probe join. A bucket that hot is a
      near-identical cluster. Matches through a dropped bucket are lost
      unless the pair also collides in a cooler band — so the cap trades
      recall ON DEGENERATE CLUSTERS ONLY for bounded cost; a >cap-sized
      exact-duplicate cluster (every band hot) should not exist in a
      pipeline that runs ``dedup_exact`` upstream, which is the intended
      order.
    - ``max_candidates_per_doc`` verifies only the top-K candidates per
      batch doc ranked by matched-band count (a monotone proxy for
      jaccard under the LSH collision model) — exact-jaccard verification
      cost is then ≤ K·|batch| regardless of cluster density. Both caps
      sit far above anything a healthy corpus produces; at gate scale the
      output is bit-identical to the uncapped plan.

    Cache lifetime: the returned plan reads two persisted intermediates
    (the batch shingle table and the candidate-pair set). The caller owns
    them — materialize the result, then ``functions.cache.release(result)``
    to free the blocks (otherwise they live until LRU eviction or session
    end)."""
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import track

    idx_params = getattr(index, _MINHASH_PARAMS_ATTR, None)
    if idx_params is not None:
        mine = {"num_hashes": num_hashes, "bands": bands,
                "shingle_n": shingle_n}
        if idx_params != mine:
            raise ValueError(
                f"index was signed with {idx_params} but the probe uses "
                f"{mine} — band hashes would never collide (near-zero "
                "recall); pass the index's parameters")

    from metrique_spark.functions.cache import narrow_small

    bsh = narrow_small(
        shingle_table(batch, id_col, text_col, shingle_n)).persist(
        StorageLevel.MEMORY_AND_DISK)
    bb = banded_hashes(bsh, num_hashes, bands)
    idx = index.select(F.col("id").alias("corpus_id"), "band", "bh")
    if max_band_bucket is not None:
        hot = (idx.groupBy("band", "bh")
               .agg(F.count("*").alias("__n"))
               .where(F.col("__n") > max_band_bucket)
               .select("band", "bh"))
        idx = idx.join(hot, ["band", "bh"], "anti")
    # candidate pairs feed TWO consumers (the verify join and the
    # corpus-id semi-join); persist the tiny pair set or lazy evaluation
    # re-runs the whole index-probe subtree — including the index's
    # signature aggregation when the index is passed as a plan rather
    # than read from storage — once per consumer (measured 2× end-to-end)
    cand = (
        bb.select(F.col("id").alias("new_id"), "band", "bh")
        .join(idx, ["band", "bh"])
        .groupBy("new_id", "corpus_id")
        .agg(F.count("*").alias("__nb"))
    )
    if max_candidates_per_doc is not None:
        from pyspark.sql import Window

        w = Window.partitionBy("new_id").orderBy(
            F.col("__nb").desc(), F.col("corpus_id"))
        cand = (cand.withColumn("__rk", F.row_number().over(w))
                .where(F.col("__rk") <= max_candidates_per_doc)
                .drop("__rk"))
    cand = narrow_small(cand.drop("__nb")).persist(
        StorageLevel.MEMORY_AND_DISK)
    cids = cand.select(F.col("corpus_id").alias(id_col)).distinct()
    csh = shingle_table(corpus.join(cids, id_col, "semi"),
                        id_col, text_col, shingle_n)
    verified = (
        cand.join(bsh.select(F.col("id").alias("new_id"),
                             F.col("sh").alias("sh_n")), "new_id")
        .join(csh.select(F.col("id").alias("corpus_id"),
                         F.col("sh").alias("sh_c")), "corpus_id")
        .withColumn("jaccard", F.round(
            F.size(F.array_intersect("sh_n", "sh_c"))
            / F.size(F.array_union("sh_n", "sh_c")), 4))
        .where(F.col("jaccard") >= threshold)
    )
    # argmax without arithmetic on the id (string ids work): min over
    # (-jaccard, corpus_id) structs = jaccard desc, id asc
    best = (
        verified.groupBy("new_id")
        .agg(F.min(F.struct((-F.col("jaccard")).alias("nj"),
                            F.col("corpus_id").alias("i"))).alias("m"))
        .select(F.col("new_id").alias(id_col),
                F.col("m.i").alias("dup_of"),
                (-F.col("m.nj")).alias("jaccard"))
    )
    return track(best, bsh, cand)


def duplicate_window_stats(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
    stride: int = 1,
    min_docs: int = 2,
) -> DataFrame:
    """Exact-substring duplication signals: fingerprint every ``window``-token
    span (md5 over the space-joined tokens, ``stride`` positions apart) and
    count, per document, how many of its distinct spans also occur in at
    least ``min_docs - 1`` other documents. Returns
    ``(id_col, n_windows, n_dup_windows, dup_frac)`` for every doc with at
    least one full window — the long-window exact-substring method that
    catches shared boilerplate and partial overlap whole-document Jaccard
    misses (public technique: Lee et al. 2021, "Deduplicating Training
    Data Makes Language Models Better" — re-expressed as fingerprint
    joins rather than a suffix array, which is the standard
    shuffle-friendly approximation).

    Scale shape: the fingerprint stream is O(tokens/stride) rows of
    (id, 60-bit long) — ``md5_long`` keys shuffle ~4× fewer bytes than
    the 32-hex md5 string this used to carry, with collision odds far
    below the statistic's noise floor (see ``text.md5_long``); within-doc
    distinct + the doc-frequency aggregate both shuffle on the hash with
    map-side partial aggregation, so a boilerplate window occurring a
    billion times collapses per map partition before the exchange.
    ``stride > 1`` trades recall of sub-window-length overlaps for
    proportionally less volume — at 100 TB run stride = window/2 (any
    duplicated region ≥ 1.5 windows still fingerprints identically at
    some aligned position).
    """
    from metrique_spark.functions.text import md5_long

    src = spread_small_scan(df.select(F.col(id_col).alias("id"),
                                      F.col(text_col).alias("__text")))
    t = src.select("id", tokens("__text").alias("__toks"))
    idx = F.when(
        F.size("__toks") >= window,
        F.sequence(F.lit(0), F.size("__toks") - window, F.lit(stride)),
    ).otherwise(F.expr("array()").cast("array<int>"))
    spans = (
        t.select("id", F.explode(F.transform(
            idx,
            lambda i: md5_long(F.array_join(F.slice("__toks", i + 1, window), " ")),
        )).alias("h"))
        .distinct()  # one row per (doc, span content)
    )
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import narrow_small

    spans = narrow_small(spans).persist(StorageLevel.MEMORY_AND_DISK)
    freq = (spans.groupBy("h").agg(F.count("*").alias("__nd"))
            .where(F.col("__nd") >= min_docs))
    dup = (spans.join(freq.select("h"), "h", "semi")
           .groupBy("id").agg(F.count("*").alias("n_dup_windows")))
    per_doc = spans.groupBy("id").agg(F.count("*").alias("n_windows"))
    from metrique_spark.functions.cache import track

    return track(
        per_doc.join(dup, "id", "left")
        .select(
            F.col("id").alias(id_col),
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).alias("n_dup_windows"),
            F.round(F.coalesce("n_dup_windows", F.lit(0))
                    / F.col("n_windows"), 4).alias("dup_frac"),
        ),
        spans,
    )


# ---------------------------------------------------------------------------
# SimHash


def simhash(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
            out_col: str = "simhash") -> DataFrame:
    """64-bit SimHash per document via an Arrow-batched pandas UDF (bit
    packing is the one step with no clean Column expression). Token hashes
    are computed JVM-side first so Python only folds longs into bits."""
    import pandas as pd
    from pyspark.sql.types import LongType

    # note: no type hints — `from __future__ import annotations` stringifies
    # them and breaks pandas_udf inference; default eval type is SCALAR
    @F.pandas_udf(LongType(), F.PandasUDFType.SCALAR)
    def _fold(hashes):
        import numpy as np

        out = []
        for hs in hashes:
            if hs is None or len(hs) == 0:
                out.append(0)
                continue
            arr = np.asarray(hs, dtype=np.uint64)
            bits = ((arr[:, None] >> np.arange(64, dtype=np.uint64)) & 1).astype(np.int64)
            counts = bits.sum(axis=0)
            sig = np.where(counts * 2 >= len(arr), 1, 0).astype(np.uint64)
            out.append(int((sig << np.arange(64, dtype=np.uint64)).sum(dtype=np.uint64)
                           .astype(np.int64)))
        return pd.Series(out, dtype="int64")

    token_hashes = F.transform(tokens(text_col), lambda t: F.xxhash64(t))
    return df.withColumn(out_col, _fold(token_hashes))


def simhash_md5(df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
                bits: int = 60) -> DataFrame:
    """Cross-engine-verifiable SimHash: 60-bit signature from md5-derived
    token hashes, pure column expressions end-to-end (no Python).

    Per token occurrence, hash = first 15 md5 hex chars parsed as int
    (60 bits — fits signed BIGINT in both Spark and DuckDB, so an ANSI-SQL
    oracle can reproduce the value exactly, unlike xxhash64). Signature bit
    b is the majority vote ``2*sum(bit b) >= n_tokens``. Plan shape is the
    minhash one: explode to (id, hash) rows, 60 codegen'd conditional-sum
    aggregates with map-side partial aggregation — one shuffled row per doc.
    Zero-token docs drop out (no rows to vote), same as the SQL twin.
    """
    toks = df.select(
        F.col(id_col).alias("id"), F.explode(tokens(text_col)).alias("t")
    )
    hs = toks.select(
        "id",
        F.conv(F.substring(F.md5("t"), 1, 15), 16, 10).cast("bigint").alias("h"),
    )
    agg = hs.groupBy("id").agg(
        F.count("*").alias("n"),
        *[F.sum(F.shiftright("h", b).bitwiseAND(F.lit(1))).alias(f"c{b}")
          for b in range(bits)],
    )
    sig = None
    for b in range(bits):
        term = F.when(F.col(f"c{b}") * 2 >= F.col("n"),
                      F.shiftleft(F.lit(1).cast("bigint"), b)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return agg.select("id", sig.alias("simhash"))


def simhash_md5_near_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, band_bits: int = 15, bits: int = 60,
) -> DataFrame:
    """Near-dup pairs on the portable md5 SimHash, hamming ≤ ``max_hamming``.
    Bands of 15 bits (4 chunks): ≤3 differing bits leave ≥1 chunk equal, so
    the banded join loses no true pair (same pigeonhole as the xxhash
    variant, which stays the scale default — xxhash64 beats md5 per token)."""
    sigs = simhash_md5(df, id_col, text_col, bits)
    mask = (1 << band_bits) - 1
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned("simhash", i * band_bits)
            .bitwiseAND(F.lit(mask)).alias("cv"),
        )
        for i in range(bits // band_bits)
    ]
    chunks = sigs.select(
        "id", "simhash", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("id", "simhash", F.col("c.chunk").alias("chunk"),
             F.col("c.cv").alias("cv"))
    cand = (
        chunks.alias("a")
        .join(chunks.alias("b"),
              (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sig_a"), F.col("b.simhash").alias("sig_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming",
                        F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def simhash_near_duplicates(
    df: DataFrame, id_col: str = "doc_id", text_col: str = "text",
    max_hamming: int = 3, band_bits: int = 16,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ ``max_hamming``.
    Banding on 16-bit chunks (a pair within distance 3 shares at least one
    of 4 chunks exactly) avoids all-pairs."""
    sigs = simhash(df, id_col, text_col).select(F.col(id_col).alias("id"), "simhash")
    mask = (1 << band_bits) - 1
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned("simhash", i * band_bits)
            .bitwiseAND(F.lit(mask)).alias("cv"),
        )
        for i in range(64 // band_bits)
    ]
    chunks = sigs.select(
        "id", "simhash", F.explode(F.array(*chunk_structs)).alias("c")
    ).select("id", "simhash", F.col("c.chunk").alias("chunk"), F.col("c.cv").alias("cv"))
    cand = (
        chunks.alias("a")
        .join(chunks.alias("b"),
              (F.col("a.chunk") == F.col("b.chunk")) & (F.col("a.cv") == F.col("b.cv"))
              & (F.col("a.id") < F.col("b.id")))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"),
                F.col("a.simhash").alias("sig_a"), F.col("b.simhash").alias("sig_b"))
        .distinct()
    )
    return (
        cand.withColumn("hamming", F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b"))))
        .where(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


# ---------------------------------------------------------------------------
# near-dup clustering: pairs -> components -> keep/drop decisions


def _components_driver(edge_rows) -> list[tuple]:
    """Union-find with path compression over collected edges; roots are
    normalized to the component's min id."""
    parent: dict = {}

    def find(x):
        r = x
        while parent.setdefault(r, r) != r:
            r = parent[r]
        while parent[x] != r:          # path compression
            parent[x], x = r, parent[x]
        return r

    for a, b in edge_rows:
        ra, rb = find(a), find(b)
        if ra != rb:
            parent[max(ra, rb)] = min(ra, rb)
    return [(v, find(v)) for v in parent]


def _star_components(edges: DataFrame, max_rounds: int = 64) -> DataFrame:
    """Alternating large-star / small-star connected components (public
    algorithm: Kiveris et al. 2014, "Connected Components in MapReduce
    and Beyond") — the escalation for graphs whose diameter exceeds the
    min-label round budget. Label propagation needs diameter-many rounds
    (a 10k-vertex path graph = 10k rounds); the alternating algorithm
    contracts any graph in O(log² n) rounds:

    - large-star: every vertex connects its strictly-larger neighbors to
      the minimum of its closed neighborhood;
    - small-star: every vertex connects its smaller neighbors (and
      itself) to that minimum.

    Each half-round is one groupBy-min + one join on the symmetric edge
    set — shuffle volume rides the (shrinking) edge count, never a
    collect. At the fixpoint every component is a star centered at its
    minimum id, so the final per-vertex ``least(id, min(neighbor))`` map
    IS the label table. ``edges`` must hold both orientations of every
    pair (u ≠ v); ids may be any orderable type (strings label by
    lexicographic min, matching the propagation and driver paths)."""
    e = edges
    prev = None
    for _ in range(max_rounds):
        for large in (True, False):
            g = (e.groupBy("src").agg(F.min("dst").alias("__mn"))
                 .select("src", F.least("src", "__mn").alias("__m")))
            j = e.join(g, "src")
            if large:
                out = (j.where(F.col("dst") > F.col("src"))
                       .select(F.col("dst").alias("a"),
                               F.col("__m").alias("b")))
            else:
                out = (j.where(F.col("dst") < F.col("src"))
                       .select(F.col("dst").alias("a"),
                               F.col("__m").alias("b"))
                       .unionByName(g.select(F.col("src").alias("a"),
                                             F.col("__m").alias("b"))))
            out = out.where(F.col("a") != F.col("b")).distinct()
            e = (out.select(F.col("a").alias("src"), F.col("b").alias("dst"))
                 .unionByName(out.select(F.col("b").alias("src"),
                                         F.col("a").alias("dst")))
                 .distinct()
                 .localCheckpoint(eager=True))
        # fixpoint = unchanged (edge_count, order-independent hash sum)
        # PAIR: the count comes free from the same aggregate, makes the
        # empty-edge-set short-circuit explicit (0 == 0, not None == None)
        # and removes the (astronomically unlikely) cross-round collision
        # of the bare sum stopping iteration on a non-star edge set
        row = e.agg(
            F.count("*").alias("n"),
            F.sum(F.xxhash64("src", "dst").cast("decimal(38,0)")).alias("s"),
        ).first()
        cur = (row["n"], row["s"])
        if cur == prev:
            break
        prev = cur
    else:
        raise RuntimeError(
            f"alternating-star components did not converge within "
            f"{max_rounds} rounds — not expected for any graph with "
            f"< 2^{max_rounds} vertices; the edge set is likely being "
            "regenerated nondeterministically between rounds")
    return (e.groupBy("src").agg(F.min("dst").alias("__mn"))
            .select(F.col("src").alias("id"),
                    F.least("src", "__mn").alias("component")))


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 20,
    driver_edge_threshold: int = 2_000_000,
) -> DataFrame:
    """Connected components over an undirected pair graph via min-label
    propagation: every vertex starts labeled with its own id; each round
    pushes labels across edges and keeps the per-vertex min; fixpoint when
    a round changes nothing. Returns ``(id, component)`` for every vertex
    that appears in ``pairs`` — ``component`` is the smallest id reachable.

    Hybrid execution: a pair graph at or under ``driver_edge_threshold``
    edges (~30 MB collected at 2M) is solved with driver-side union-find —
    the pair set surviving an LSH/jaccard threshold is usually a sliver of
    the corpus, and a multi-round distributed loop on a small graph is all
    scheduling overhead. The edges are collected in one Spark job when
    ``pairs`` is one partition (``components:edges``) and the labels
    come back as a local relation (``_label_table``), so no Python
    worker starts. Above the threshold the distributed loop runs
    (``components:propagate``, ``components:star``) and reads ``pairs``
    again — materialize a pair plan that is costly to recompute first;
    pass ``driver_edge_threshold=0`` to force it.

    Scale shape: one join + one min-aggregate per round, both shuffling on
    the vertex id, with per-round ``localCheckpoint`` lineage cuts (the
    same pattern as ``temporal.deptree``). Round count is bounded by the
    component diameter — near-dup clusters are shallow (dozens of docs
    chained through shared shingles), so this converges in a handful of
    rounds; for adversarial long-path graphs switch to large-star /
    small-star, which is O(log n) rounds at higher per-round volume."""
    from pyspark import StorageLevel

    from metrique_spark.engine import named_jobs

    spark = pairs.sparkSession
    if driver_edge_threshold:
        # one job over a pair frame of one partition (the MinHash pass's
        # output): the limit scans further partitions only when the
        # first holds fewer rows than it asks for
        with named_jobs(spark, "components", "edges"):
            small = (pairs.select(F.col(id_a).alias("a"),
                                  F.col(id_b).alias("b"))
                     .limit(driver_edge_threshold + 1).collect())
        if len(small) <= driver_edge_threshold:
            return _label_table(spark, _components_driver(small),
                                pairs.schema[id_a].dataType)
        # fell through: graph too big for the driver — run distributed

    edges = (
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .unionByName(
            pairs.select(F.col(id_b).alias("src"), F.col(id_a).alias("dst")))
        .distinct()
        .persist(StorageLevel.MEMORY_AND_DISK)  # re-scanned every round
    )
    def _checksum(lbl: DataFrame):
        # Type-agnostic convergence witness: the vertex set is fixed and
        # labels only ever decrease, so a round is a fixpoint iff the
        # (id, component) multiset is unchanged — detected by an
        # order-insensitive sum of per-row hashes. One cheap aggregate job
        # per round instead of a join + emptiness probe. (A plain
        # sum(component) only works for numeric ids: with string ids the
        # cast throws under ANSI, or yields a NULL sum that ends the loop
        # after one round under non-ANSI.) decimal(38,0) sum of 64-bit
        # hashes can't overflow until ~1e19 rows.
        return lbl.agg(
            F.sum(F.xxhash64("id", "component").cast("decimal(38,0)"))
        ).first()[0]

    try:
        with named_jobs(spark, "components", "propagate"):
            labels = (
                edges.select(F.col("src").alias("id")).distinct()
                .withColumn("component", F.col("id"))
                .localCheckpoint(eager=True)
            )
            prev_sum = _checksum(labels)
            for _ in range(max_iter):
                msgs = (
                    edges.join(labels, edges.src == labels.id)
                    .select(F.col("dst").alias("id"), "component")
                )
                labels = (
                    labels.unionByName(msgs)
                    .groupBy("id")
                    .agg(F.min("component").alias("component"))
                    .localCheckpoint(eager=True)
                )
                new_sum = _checksum(labels)
                if new_sum == prev_sum:
                    return labels
                prev_sum = new_sum
        # diameter > max_iter: propagation would need diameter-many
        # rounds (silently-wrong labels if truncated), so escalate to the
        # alternating-star algorithm — O(log² n) rounds on any graph
        # shape, at higher per-round volume. The common shallow near-dup
        # graph never reaches this.
        with named_jobs(spark, "components", "star"):
            return _star_components(edges)
    finally:
        edges.unpersist()


def _label_table(spark, labels: list[tuple], id_type) -> DataFrame:
    """The ``(id, component)`` rows of the driver path as a local
    relation, built from an Arrow table: the JVM reads it directly, so
    no Python worker starts (a frame built from a Python list is a
    Python RDD that one would evaluate), and it carries a size estimate
    the planner can place in one partition."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_type

    t = to_arrow_type(id_type)
    return spark.createDataFrame(pa.table(
        {"id": pa.array([v for v, _ in labels], t),
         "component": pa.array([c for _, c in labels], t)}))


def canonical_docs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str = "doc_id",
    id_a: str = "id_a",
    id_b: str = "id_b",
    quality_col: str | None = None,
) -> DataFrame:
    """Keep/drop decision table from near-dup pairs: every document gets a
    ``component_id`` (its near-dup cluster's min doc id; singletons get
    their own id) and ``is_canonical`` (true for the one kept doc per
    cluster). This is the step that turns any pair-producing dedup
    (jaccard/minhash/simhash/embedding) into an actionable filter:
    ``where is_canonical`` IS the deduplicated corpus.

    The kept doc is the min id by default (deterministic arbitrary
    choice); pass ``quality_col`` to keep each cluster's BEST-quality
    member instead (ties → min id) — the production configuration, where
    dedup should discard the worse copy. The quality argmax is one
    map-side-combinable min-of-struct aggregate per component, never a
    window over the cluster's rows.

    A ``df`` that fits one partition (``_one_partition``) is decorated
    there: the component join (and the quality join) are merge joins
    with no exchange, so counting the result runs one job after
    ``connected_components``' edge collect. A larger one leaves the
    joins to AQE: the components table only holds docs that appear in
    some pair, so it usually broadcasts — but a heavily-duplicated
    corpus can make it a large fraction of the input, where a forced
    broadcast would OOM the executors."""
    one = _one_partition(df)
    keep = [id_col, *([quality_col] if quality_col else [])]
    docs = df.select(*keep)
    comp = connected_components(pairs, id_a, id_b).select(
        F.col("id").alias(id_col), "component")
    if one:
        docs, comp = docs.coalesce(1), comp.coalesce(1)
    base = (
        docs.join(_side(comp, one), id_col, "left")
        .select(*keep,
                F.coalesce("component", F.col(id_col)).alias("component_id"))
    )
    if quality_col is None:
        return base.select(
            id_col, "component_id",
            (F.col("component_id") == F.col(id_col)).alias("is_canonical"))
    # null quality coalesces to -inf: struct min orders a NULL negated
    # field FIRST, so an unscored doc would otherwise beat every scored
    # clustermate — the exact inversion of "keep the best copy"
    q = F.coalesce(F.col(quality_col).cast("double"),
                   F.lit(float("-inf")))
    best = (
        base.groupBy("component_id")
        .agg(F.min(F.struct((-q).alias("nq"),
                            F.col(id_col).alias("i"))).alias("m"))
        .select("component_id", F.col("m.i").alias("__keep"))
    )
    return (
        base.join(_side(best, one), "component_id")
        .select(id_col, "component_id",
                (F.col(id_col) == F.col("__keep")).alias("is_canonical"))
    )


# ---------------------------------------------------------------------------
# decontamination: eval-set n-gram containment against a training corpus


def containment_scores(
    train: DataFrame,
    holdout: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Per-holdout-doc contamination score: max over training docs of
    ``|shingles(holdout) ∩ shingles(train)| / |shingles(holdout)|``
    (n-gram containment — the standard train/eval overlap check run
    before pre-training). Returns every holdout doc with
    ``max_containment`` (0.0 when no shingle co-occurs anywhere) and the
    ``train_id`` achieving it (min id on ties, NULL when 0).

    Plan shape is the jaccard inverted index with an asymmetric join: the
    (usually tiny) holdout side explodes against the training index,
    shuffling on the shingle — never a cartesian, never a broadcast of the
    training corpus. ``max_doc_freq`` drops stop-shingles on the TRAIN
    side only (a shingle in k train docs fans every matching holdout
    shingle out k ways — the skew story at 100 TB); holdout counts stay
    exact, so the score remains a true containment against the surviving
    index (a lower bound on the uncapped score)."""
    h = (shingle_table(holdout, id_col, text_col, n)
         .withColumn("sz", F.size("sh")))
    # explode_outer + null-drop: see jaccard_pairs — plain explode makes
    # the optimizer re-run the shingle expression below the exchange
    h_inv = (h.select(F.col("id").alias("h_id"), "sz",
                      F.explode_outer("sh").alias("tok"))
             .where(F.col("tok").isNotNull()))
    t_inv = (shingle_table(train, id_col, text_col, n)
             .select(F.col("id").alias("t_id"),
                     F.explode_outer("sh").alias("tok"))
             .where(F.col("tok").isNotNull()))
    if max_doc_freq is not None:
        freq = t_inv.groupBy("tok").agg(F.count("*").alias("__df"))
        t_inv = t_inv.join(freq.where(F.col("__df") <= max_doc_freq),
                           "tok", "left_semi")
    inter = (
        h_inv.join(t_inv, "tok")
        .groupBy("h_id", "t_id", "sz")
        .agg(F.count("*").alias("inter"))
        .withColumn("containment", F.round(F.col("inter") / F.col("sz"), 4))
    )
    # argmax as min-of-struct: struct comparison is field-order
    # lexicographic, so (-containment, t_id) picks the best score with
    # min train id on ties — one map-side-combinable aggregate, no
    # window, and no arithmetic on the id (which may be a string; the
    # earlier max(struct(containment, -t_id)) form negated the id and
    # broke for non-numeric doc ids)
    best = inter.groupBy("h_id").agg(
        F.min(F.struct((-F.col("containment")).alias("negc"),
                       F.col("t_id"))).alias("__best")
    ).select(
        "h_id",
        (-F.col("__best.negc")).alias("max_containment"),
        F.col("__best.t_id").alias("train_id"),
    )
    return (
        holdout.select(F.col(id_col).alias("h_id"))
        .join(best, "h_id", "left")
        .select(
            F.col("h_id").alias(id_col),
            F.coalesce("max_containment", F.lit(0.0)).alias("max_containment"),
            F.col("train_id"),
        )
    )


def decontaminate(
    train: DataFrame,
    holdout: DataFrame,
    threshold: float = 0.8,
    id_col: str = "doc_id",
    text_col: str = "text",
    n: int = 3,
    **kw,
) -> DataFrame:
    """Training rows whose content contaminates the holdout set: any train
    doc achieving containment ≥ threshold against some holdout doc.
    ``train.join(decontaminate(...), id_col, "anti")`` is the cleaned
    corpus."""
    scores = containment_scores(train, holdout, id_col, text_col, n, **kw)
    return (
        scores.where(F.col("max_containment") >= threshold)
        .select(F.col("train_id").alias(id_col),
                "max_containment")
        .distinct()
    )


def remove_duplicate_spans(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    window: int = 16,
) -> DataFrame:
    """Exact-substring DEDUP REMOVAL — the application step of the
    ``duplicate_window_stats`` fingerprints (Lee et al. 2021: delete
    repeated substrings from the corpus, keeping one copy): every
    ``window``-token span that also occurs in a SMALLER-id document is
    cut from this document's token stream, so the first (minimum-id)
    occurrence survives verbatim and later ones lose exactly the shared
    spans. Returns ``(id_col, clean_text, n_tokens, n_removed_tokens)``
    over the canonical token stream (lowercased, punctuation-split — the
    standard implementations also operate post-tokenization, not on raw
    bytes).

    Scale shape: stride-1 fingerprints are O(tokens) slim (id, start,
    60-bit long) rows (``md5_long`` — ~4× fewer shuffle bytes than the
    32-hex strings this used to carry; a collision cuts one bounded span
    from one doc, see ``text.md5_long``); ownership is one
    map-side-combinable min-aggregate on the hash; duplicated starts per
    doc collapse into covered INTERVALS via a gaps-and-islands window
    (partitioned by doc — a doc's spans are bounded by its own length,
    so no skew), and the final cut is a pure column expression: filter
    the token-position sequence against the islands array. No doc's text
    is ever joined against another doc's text; everything meets on the
    hash keys."""
    from pyspark.sql import Window

    from metrique_spark.functions.text import md5_long

    src = spread_small_scan(df.select(F.col(id_col).alias("id"),
                                      F.col(text_col).alias("__text")))
    # null text → empty token array: keeps every doc in the output with
    # clean_text '' / n_tokens 0 (and keeps the position sequence below
    # from underflowing into a DESCENDING range on size 0)
    t = src.select("id", F.coalesce(
        tokens("__text"),
        F.expr("array()").cast("array<string>")).alias("__toks"))
    starts = F.when(
        F.size("__toks") >= window,
        F.sequence(F.lit(0), F.size("__toks") - window),
    ).otherwise(F.expr("array()").cast("array<int>"))
    # (start, hash) structs built INSIDE transform, then exploded — the
    # token array is never duplicated per span row and no self-join is
    # needed to slice it (explode_outer + null-drop: the usual
    # InferFiltersFromGenerate guard, see jaccard_pairs)
    span_structs = F.transform(
        starts,
        lambda i: F.struct(
            i.alias("s"),
            md5_long(F.array_join(F.slice("__toks", i + 1, window), " "))
            .alias("h")))
    spans = (
        t.select("id", F.explode_outer(span_structs).alias("x"))
        .where(F.col("x").isNotNull())
        .select("id", F.col("x.s").alias("s"), F.col("x.h").alias("h"))
    )
    owner = spans.groupBy("h").agg(F.min("id").alias("__own"))
    dup = (spans.join(owner, "h")
           .where(F.col("__own") < F.col("id"))
           .select("id", "s"))
    w_ord = Window.partitionBy("id").orderBy("s")
    prev_end = F.max(F.col("s") + window).over(
        w_ord.rowsBetween(Window.unboundedPreceding, -1))
    isl = (
        dup.withColumn("__ni", F.when(
            prev_end.isNull() | (F.col("s") > prev_end), 1).otherwise(0))
        .withColumn("__isl", F.sum("__ni").over(
            w_ord.rowsBetween(Window.unboundedPreceding, 0)))
        .groupBy("id", "__isl")
        .agg(F.min("s").alias("st"), (F.max("s") + window).alias("en"))
        .groupBy("id")
        .agg(F.array_sort(F.collect_list(F.struct("st", "en")))
             .alias("__islands"))
    )
    cut = (
        t.join(isl, "id", "left")
        .withColumn("__islands", F.coalesce(
            "__islands",
            F.expr("array()").cast("array<struct<st:int,en:long>>")))
        .withColumn("__keep", F.filter(
            F.when(F.size("__toks") > 0,
                   F.sequence(F.lit(0), F.size("__toks") - 1))
            .otherwise(F.expr("array()").cast("array<int>")),
            lambda p: ~F.exists(
                "__islands",
                lambda i: (p >= i["st"]) & (p < i["en"]))))
    )
    return cut.select(
        F.col("id").alias(id_col),
        F.array_join(
            F.transform("__keep",
                        lambda p: F.element_at("__toks", p + 1)),
            " ").alias("clean_text"),
        F.size("__toks").cast("long").alias("n_tokens"),
        (F.size("__toks") - F.size("__keep")).cast("long")
        .alias("n_removed_tokens"),
    )


def jaccard_pairs_prefix(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    threshold: float = 0.8,
    n: int = 3,
) -> DataFrame:
    """All-pairs Jaccard with PREFIX FILTERING (public algorithm:
    Bayardo, Ma & Srikant 2007, "Scaling Up All Pairs Similarity
    Search") — exact, same contract as ``jaccard_pairs``, far fewer
    candidates at high thresholds.

    The inverted index only holds each document's ``⌊(1-t)·|d|⌋ + 1``
    RAREST shingles (global-frequency order, rarest first): two sets
    with Jaccard ≥ t overlap in more than ``(1-t)·|d|`` elements, so
    they MUST share at least one prefix shingle — no recall loss, while
    the ubiquitous shingles (the k² join-blowup culprits) never enter
    the index for long documents. A size filter (``t·|a| ≤ |b|``)
    prunes length-incompatible candidates before verification; the
    survivors verify with the exact intersection via one sorted-merge
    join back to the full shingle arrays.

    Scale shape: frequency table and per-doc prefix rank are both
    map-side-combinable/windowed on bounded groups (a doc's own
    shingles); the candidate join volume rides prefix entries only —
    at t=0.8 that is ~20% of the index rows, quadratically less join
    output. Verification is two id-keyed joins for candidate pairs
    only. Measured on a 60k-doc corpus where 15% of docs share a
    12-token boilerplate run (each hot shingle in ~8.5k docs → ~72M
    join rows per shingle for the plain index): 361s plain vs 21s
    prefix-filtered, identical output. On benign corpora at small scale
    the plain ``jaccard_pairs`` wins (fewer passes) — pick by the
    shingle doc-frequency tail, or cap it with ``max_doc_freq`` when a
    lower-bound Jaccard is acceptable."""
    from pyspark.sql import Window

    sh = shingle_table(df, id_col, text_col, n).withColumn("sz", F.size("sh"))
    inv = (sh.select("id", "sz", F.explode_outer("sh").alias("tok"))
           .where(F.col("tok").isNotNull()))
    freq = inv.groupBy("tok").agg(F.count("*").alias("__f"))
    w = Window.partitionBy("id").orderBy("__f", "tok")
    # prefix length floor((1-t)·|d|)+1 (= |d| - ceil(t·|d|) + 1): the
    # epsilon guards float representation — (1-0.8) is 0.19999…96 and
    # would floor one short at |d| multiples of 5, silently losing
    # exactly-at-threshold pairs; the sz-relative term keeps the guard
    # above rounding error at any document size (absolute error of
    # (1-t)·sz scales with sz). Erring LONGER is always safe (only
    # extra candidates), erring shorter breaks the exactness guarantee.
    prefix = (
        inv.join(freq, "tok")
        .withColumn("__r", F.row_number().over(w))
        .where(F.col("__r") <=
               F.floor((1.0 - threshold) * F.col("sz")
                       + F.col("sz") * F.lit(1e-12) + F.lit(1e-9)) + 1)
        .select("id", "sz", "tok")
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"),
              (F.col("a.tok") == F.col("b.tok"))
              & (F.col("a.id") < F.col("b.id"))
              # size filter: |a∩b| ≤ min(|a|,|b|) and jaccard ≥ t forces
              # t·max(|a|,|b|) ≤ min(|a|,|b|); -1e-9 keeps float noise
              # from dropping equal-size pairs sitting exactly on the
              # bound
              & (F.least("a.sz", "b.sz")
                 >= threshold * F.greatest("a.sz", "b.sz")
                 - F.greatest("a.sz", "b.sz") * F.lit(1e-12) - F.lit(1e-9)))
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"))
        .distinct()
    )
    av = sh.select(F.col("id").alias("id_a"), F.col("sh").alias("sh_a"),
                   F.col("sz").alias("sz_a"))
    bv = sh.select(F.col("id").alias("id_b"), F.col("sh").alias("sh_b"),
                   F.col("sz").alias("sz_b"))
    return (
        cand.join(av, "id_a").join(bv, "id_b")
        .withColumn("inter", F.size(F.array_intersect("sh_a", "sh_b")))
        .withColumn("jaccard", F.round(
            F.col("inter")
            / (F.col("sz_a") + F.col("sz_b") - F.col("inter")), 4))
        .where(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def paragraph_dedup(
    df: DataFrame,
    id_col: str = "doc_id",
    text_col: str = "text",
    sep: str = "\n",
) -> DataFrame:
    """CCNet-style paragraph-level exact deduplication (Wenzek et al.
    2020 dedup at paragraph granularity before language ID): split each
    document on ``sep``, hash the normalized (lower-cased, trimmed)
    paragraph, keep only the FIRST occurrence of every distinct
    paragraph — the ``(min id, min idx)`` holder — and reassemble the
    surviving paragraphs in original order. Boilerplate (headers,
    cookie banners, navigation) that repeats across a crawl disappears
    from every document but its first.

    Returns ``(id_col, n_paras, n_kept, text)`` for every document with
    at least one non-empty paragraph; ``text`` is the deduplicated
    rebuild (empty string when every paragraph was a repeat).

    Scale shape: paragraphs shuffle once on the md5 hash into a
    map-side-combinable ``min(struct(id, idx))`` keeper table (a
    billion-fold boilerplate paragraph collapses to one keeper row in
    partial aggregation — no single-task hot key, unlike a window over
    the hash); the keep mark is a hash-keyed equi-join back (AQE
    broadcasts the keeper side when small, skew-splits it when not);
    reassembly is a per-document aggregate over the document's own
    paragraphs."""
    import re as _re

    paras = (
        df.select(
            F.col(id_col).alias("id"),
            F.posexplode(
                # F.split takes a REGEX; sep is a literal (it is also
                # the literal the rebuild joins with) — escape it so a
                # metachar separator ('|', '.') doesn't shred the text
                F.split(F.coalesce(F.col(text_col), F.lit("")),
                        _re.escape(sep))
            ).alias("idx", "para"))
        .where(F.trim("para") != ""))
    keyed = paras.withColumn("h", F.md5(F.lower(F.trim(F.col("para")))))
    keepers = (keyed.groupBy("h")
               .agg(F.min(F.struct("id", "idx")).alias("k")))
    marked = (
        keyed.join(keepers, "h")
        .withColumn("__keep", (F.col("id") == F.col("k.id"))
                    & (F.col("idx") == F.col("k.idx")))
        .drop("k", "h"))
    return (
        marked.groupBy("id")
        .agg(
            F.count("*").cast("long").alias("n_paras"),
            F.sum(F.col("__keep").cast("long")).alias("n_kept"),
            F.array_join(
                F.transform(
                    F.array_sort(F.collect_list(
                        F.when(F.col("__keep"),
                               F.struct("idx", "para")))),
                    lambda s: s["para"]),
                sep).alias("text"))
        .withColumnRenamed("id", id_col))
