"""Similarity search over embedding columns (``array<float>``).

Two paths, same contract:

- ``cosine_topk`` — exact brute-force: query set × corpus with the dot
  product as ``zip_with``/``aggregate`` higher-order functions (JVM-side,
  codegen) and a window top-k. The query side is broadcast — the corpus is
  scanned once, never shuffled. This is the correctness baseline and is
  fine whenever |queries| × |corpus| partitions fit the cluster.
- ``ivf_topk`` — the scale path: k-means-style inverted file. Centroids are
  sampled deterministically, every vector is assigned to its nearest
  centroid (one broadcast pass), and a query only scans its ``nprobe``
  closest buckets. At 100 TB the bucket assignment is the partition key, so
  a probe touches ``nprobe/nlist`` of the data instead of all of it.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from metrique_spark.functions.cache import narrow_small


def _dot(a: Column, b: Column) -> Column:
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, x: acc + x,
    )


def _norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(a, F.lit(0.0).cast("double"),
                              lambda acc, x: acc + x * x))


def cosine(a: Column, b: Column) -> Column:
    """Cosine similarity of two double arrays, built-ins only."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def _as_double(col: str) -> Column:
    return F.col(col).cast("array<double>")


def cosine_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Exact top-k cosine neighbors for each query vector.

    Returns (query_id, neighbor_id, sim) — self-matches excluded, ties
    broken by neighbor id for determinism. The query side is broadcast;
    ranking is a window over query_id (shuffle of |Q|·|C| slim rows — at
    scale prefer ``ivf_topk``).
    """
    # norms precomputed once per row: cosine() inline would re-evaluate the
    # interpreted higher-order norm lambda for every candidate pair —
    # |Q|+|C| norm computations instead of 2·|Q|·|C|
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(vec_col).alias("qv"))
    q = q.select("query_id", "qv", _norm(F.col("qv")).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("cv"))
    c = c.select("neighbor_id", "cv", _norm(F.col("cv")).alias("cn"))
    scored = (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            decimals))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


_PAIRS_SCHEMA = "id_a bigint, id_b bigint, sim double"


def _pairs_above(ids, mat, other_ids, other_mat, threshold, decimals):
    """All (id_a < id_b) cosine pairs between two raw blocks via one numpy
    matmul; returns a pandas DataFrame. Shared by the exact and bucketed
    paths — BLAS does the n·m·d work, Python touches only the survivors.

    Cosine is computed as dot/(‖a‖·‖b‖) — the same algebraic form as the
    SQL oracle — rather than normalize-then-dot, so the two engines agree
    bit-for-bit more often before the 4dp round."""
    import numpy as np
    import pandas as pd

    na = np.linalg.norm(mat, axis=1)
    nb = np.linalg.norm(other_mat, axis=1)
    # round half-UP like Spark's F.round / DuckDB's round — np.round is
    # banker's (half-even) and would drift on exact ties
    scale = 10.0 ** decimals
    sims = np.floor((mat @ other_mat.T) / (na[:, None] * nb[None, :])
                    * scale + 0.5) / scale
    ia, ib = np.nonzero((sims >= threshold)
                        & (ids[:, None] < other_ids[None, :]))
    return pd.DataFrame({"id_a": ids[ia], "id_b": other_ids[ib],
                         "sim": sims[ia, ib]})


def cosine_pairs(
    df: DataFrame,
    threshold: float = 0.45,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Exact embedding-cosine near-duplicate pairs: every (id_a, id_b),
    id_a < id_b, with cosine ≥ threshold.

    All-pairs is O(n²) by definition; the question is only the constant.
    The corpus streams through ``mapInPandas`` in Arrow batches and each
    batch is one BLAS matmul against a broadcast of the corpus matrix —
    measured ~4× end-to-end over evaluating the dot product as interpreted
    higher-order-function lambdas per joined pair, and nothing but the
    surviving pairs ever materializes. Broadcasting the matrix caps this
    at broadcast size (same ceiling as any broadcast join); past that,
    block both sides (outer loop over matrix blocks of this same
    function) or drop to ``cosine_pairs_bucketed``."""
    import numpy as np

    base = df.select(F.col(id_col).cast("long").alias("id"),
                     _as_double(vec_col).alias("v"))
    rows = base.collect()  # small side of the broadcast, like any dim table
    all_ids = np.array([r.id for r in rows], dtype=np.int64)
    m = np.array([r.v for r in rows], dtype=np.float64)
    bc = df.sparkSession.sparkContext.broadcast((all_ids, m))

    def gen(batches):
        import numpy as np

        ids_all, mat_all = bc.value
        pos = {v: i for i, v in enumerate(ids_all)}
        for pdf in batches:
            idx = pdf["id"].map(pos).to_numpy()
            yield _pairs_above(ids_all[idx], mat_all[idx],
                               ids_all, mat_all, threshold, decimals)

    return base.select("id").mapInPandas(gen, schema=_PAIRS_SCHEMA)


def auto_nlist(n_rows: int, target_bucket_rows: int = 100_000) -> int:
    """Bucket count that keeps the EXPECTED bucket ≤ ``target_bucket_rows``
    rows — the knob that stops a fixed ``nlist`` from becoming a hidden
    per-executor memory bound as the corpus grows."""
    import math

    return max(2, math.ceil(max(0, n_rows) / max(1, target_bucket_rows)))


def _n_blocks(count_col: str, cap: int) -> Column:
    """Number of hash-blocks an oversized group splits into: ⌈n/cap⌉, ≥1."""
    return F.greatest(
        F.lit(1), F.ceil(F.col(count_col) / F.lit(cap))).cast("int")


def cosine_pairs_bucketed(
    df: DataFrame,
    threshold: float = 0.45,
    nlist: int | None = 16,
    nprobe: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
    target_bucket_rows: int = 100_000,
    max_bucket_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """Scale path for embedding near-dup pairs: assign every vector to its
    ``nprobe`` nearest of ``nlist`` IVF buckets, generate candidates only
    within a bucket (the bucket id is the shuffle key — work is
    n²/nlist-ish per bucket instead of n² global, and no broadcast of the
    full matrix), then verify with the exact dot product (one BLAS matmul
    per bucket group). Output precision is exact; recall misses pairs whose
    members share no probed bucket (raise ``nprobe`` to trade cost for
    recall). Same contract as ``cosine_pairs``.

    MEMORY CONTRACT (hard, skew-proof): each ``applyInPandas`` task
    materializes at most ~2×``max_bucket_rows`` rows (default:
    ``target_bucket_rows``), whatever the data distribution.
    ``auto_nlist`` only bounds the MEAN bucket — a dense embedding
    cluster can concentrate far more than corpus/nlist rows in one
    bucket — so oversized buckets are salted: a bucket of n rows splits
    into S=⌈n/cap⌉ hash-blocks and every unordered block pair (i ≤ j)
    becomes its own task (diagonal tasks do self-pairs, off-diagonal
    tasks score block i × block j both ways). Every candidate pair still
    meets in exactly one task per bucket, so output is IDENTICAL to the
    unsalted plan; cost is the standard blocked-matmul S× replication of
    only the oversized buckets' rows. Under-cap buckets get S=1 — the
    exact unsalted plan.

    ``n_rows``: optional caller-supplied UPPER BOUND on ``df``'s row
    count (e.g. the parquet footer total of the source table, even when
    ``df`` filters it) — skips the guard-probe job entirely. With an
    EXPLICIT ``nlist`` an over-estimate is safe: it can only push the
    plan into the salted branch, which is output-identical; an
    under-estimate would break the memory contract, so never pass a
    guess that could be low. With ``nlist=None`` the same ``n_rows``
    also feeds ``auto_nlist``, so an over-estimate raises the bucket
    count and therefore changes RECALL (not precision) — pass the exact
    count, or pin ``nlist``, when the output must be reproducible."""
    cap = max_bucket_rows or target_bucket_rows
    if n_rows is None:
        if nlist is None:
            n_rows = df.count()
        else:
            # guard probe, not a full count: at scale the limit
            # short-circuits after ~cap rows instead of scanning the
            # corpus just to decide whether salting is needed
            n_rows = df.limit(cap + 1).count()
    if nlist is None:
        nlist = auto_nlist(n_rows, target_bucket_rows)
    _, centroids = ivf_assign(df, nlist, id_col, vec_col)
    vecs = df.select(F.col(id_col).cast("long").alias("__vid"),
                     _as_double(vec_col).alias("v"))
    if nprobe >= nlist:
        # exact mode (every vector probes every bucket): skip the centroid
        # scoring + per-vector ranking window — tagging each vector with all
        # bucket ids needs no shuffle at all, just a broadcast of nlist ids
        probed = vecs.join(
            F.broadcast(centroids.select(F.col("centroid_id").alias("bucket")))
        ).select(F.col("__vid").alias("id"), "v", "bucket")
    else:
        probed = _nearest_buckets(vecs, centroids, "v", nprobe).select(
            F.col("__vid").alias("id"), "v", F.col("centroid_id").alias("bucket"))

    return _pairs_within_buckets(probed, threshold, decimals, cap, n_rows)


def _pairs_within_buckets(
    probed: DataFrame,
    threshold: float,
    decimals: int,
    cap: int,
    n_rows: int,
    multi_membership: bool = True,
) -> DataFrame:
    """All (id_a < id_b, sim ≥ threshold) cosine pairs WITHIN each bucket
    of ``probed`` (columns ``id, v, bucket``) under the hard per-task
    memory contract documented in ``cosine_pairs_bucketed``. Shared by the
    IVF pair path and ``semantic_dedup`` (k-means clusters as buckets).

    ``multi_membership=False`` (each id appears in exactly one bucket —
    e.g. a k-means assignment) skips the final ``distinct()``: pairs are
    already unique, so the extra shuffle would be pure cost."""
    from pyspark import StorageLevel

    def _maybe_distinct(pairs: DataFrame) -> DataFrame:
        # a pair can co-occur in several probed buckets — but only when
        # ids can belong to more than one bucket
        return pairs.distinct() if multi_membership else pairs

    if n_rows <= cap:
        # no bucket can exceed the cap (a bucket holds at most the whole
        # corpus): skip the counting/salting machinery entirely — zero
        # extra jobs. This is every small corpus and the oracle-gate
        # configuration; the salted path below is the scale regime.
        def per_bucket(pdf):
            import numpy as np

            ids = pdf["id"].to_numpy(dtype=np.int64)
            m = np.array(list(pdf["v"]), dtype=np.float64)
            return _pairs_above(ids, m, ids, m, threshold, decimals)

        return _maybe_distinct(
            probed.groupBy("bucket")
            .applyInPandas(per_bucket, schema=_PAIRS_SCHEMA)
        )

    # per-bucket sizes drive the salting; persist so the (windowed) probe
    # assignment isn't recomputed for the count pass — MEMORY_AND_DISK
    # spills rather than OOMs, block released by LRU / session end
    probed = narrow_small(probed).persist(StorageLevel.MEMORY_AND_DISK)
    counts = probed.groupBy("bucket").agg(F.count("*").alias("__bn"))
    blocked = (
        probed.join(F.broadcast(counts), "bucket")
        .withColumn("__nb", _n_blocks("__bn", cap))
        .withColumn("__blk",
                    F.pmod(F.xxhash64(F.col("id")), F.col("__nb")).cast("int"))
        .withColumn("__j", F.explode(
            F.sequence(F.lit(0), F.col("__nb") - 1)))
        .withColumn("__blo", F.least("__blk", "__j"))
        .withColumn("__bhi", F.greatest("__blk", "__j"))
        .withColumn("__side",
                    F.when(F.col("__blk") == F.col("__blo"), 0).otherwise(1))
        .select("bucket", "__blo", "__bhi", "__side", "id", "v")
    )

    def per_task(pdf):
        import numpy as np
        import pandas as pd

        a = pdf[pdf["__side"] == 0]
        ida = a["id"].to_numpy(dtype=np.int64)
        ma = np.array(list(a["v"]), dtype=np.float64)
        if pdf["__blo"].iat[0] == pdf["__bhi"].iat[0]:
            # diagonal task: all-pairs within one block
            return _pairs_above(ida, ma, ida, ma, threshold, decimals)
        b = pdf[pdf["__side"] == 1]
        if not len(a) or not len(b):
            return pd.DataFrame({"id_a": pd.Series(dtype="int64"),
                                 "id_b": pd.Series(dtype="int64"),
                                 "sim": pd.Series(dtype="float64")})
        idb = b["id"].to_numpy(dtype=np.int64)
        mb = np.array(list(b["v"]), dtype=np.float64)
        # cross task: both directions so every pair surfaces with
        # id_a < id_b regardless of which block holds the smaller id
        return pd.concat(
            [_pairs_above(ida, ma, idb, mb, threshold, decimals),
             _pairs_above(idb, mb, ida, ma, threshold, decimals)],
            ignore_index=True)

    return _maybe_distinct(
        blocked.groupBy("bucket", "__blo", "__bhi")
        .applyInPandas(per_task, schema=_PAIRS_SCHEMA)
    )


def _nearest_buckets(
    vectors: DataFrame, centroids: DataFrame, vec_alias: str, n_keep: int
) -> DataFrame:
    """Broadcast-join every vector against the (tiny) centroid set, keep the
    ``n_keep`` most-similar centroid ids per vector. All data-side rows are
    scanned once; nothing but slim (id, bucket) rows shuffle."""
    w = Window.partitionBy("__vid").orderBy(
        F.col("__csim").desc(), F.col("centroid_id"))
    return (
        vectors.join(F.broadcast(centroids))
        .withColumn("__csim", cosine(F.col(vec_alias), F.col("cvec")))
        .withColumn("__crk", F.row_number().over(w))
        .where(F.col("__crk") <= n_keep)
        .drop("__csim", "__crk", "cvec")
    )


def ivf_assign(
    df: DataFrame,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
) -> tuple[DataFrame, DataFrame]:
    """Assign each vector to its nearest of ``nlist`` centroids.

    Initial centroids are the vectors whose id hashes lowest
    (deterministic seeded sample — no wall-clock/random dependence,
    reproducible across runs). ``train_iters`` > 0 runs that many Lloyd
    (k-means) refinement rounds — better-balanced buckets, better recall
    at fixed nprobe, and a guard against the hot-bucket memory bound in
    ``cosine_pairs_bucketed``. Left at 0 by default: refined centroid
    means sum floats across partitions, whose order Spark does not fix,
    so bit-exact rerun determinism (which the oracle gates rely on) only
    holds for the sampled init.

    Returns (assigned_df with ``bucket`` column, centroids_df). The
    assignment is a broadcast join + per-vector top-1 — no driver-side
    literal expressions, so plan size is independent of ``nlist``/dim. At
    scale, persist the result partitioned by ``bucket``.
    """
    centroids = _ivf_centroids(df, nlist, id_col, vec_col, train_iters)
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    assigned = (
        _nearest_buckets(vectors, centroids, "v", 1)
        .select(F.col("__vid").alias(id_col), "v",
                F.col("centroid_id").alias("bucket"))
    )
    return assigned, centroids


def _ivf_centroids(df: DataFrame, nlist: int, id_col: str, vec_col: str,
                   train_iters: int) -> DataFrame:
    """``ivf_assign``'s (centroid_id, cvec) table: the sampled init plus
    ``train_iters`` Lloyd rounds."""
    ranked = df.select(
        F.col(id_col), _as_double(vec_col).alias("v"),
        F.xxhash64(F.col(id_col).cast("string")).alias("h"),
    )
    centroids = (
        ranked.orderBy("h").limit(nlist)
        .select(F.col(id_col).alias("centroid_id"), F.col("v").alias("cvec"))
    )
    if train_iters:
        vectors = df.select(
            F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
        for _ in range(train_iters):
            centroids = _lloyd_round(vectors, centroids).localCheckpoint(
                eager=True)
    return centroids


_KMEANS_CENTS_ATTR = "_kmeans_cents"


def _lloyd_round(vectors: DataFrame, centroids: DataFrame) -> DataFrame:
    """One k-means round: assign each vector to its nearest centroid, then
    recompute each centroid as the per-dimension mean of its bucket.

    The mean is computed via posexplode → avg over (bucket, dim) →
    re-assemble sorted by dim: two map-side-combinable shuffles whose keys
    are (bucket, dim) and bucket — never a whole bucket's vectors in one
    place, so a hot bucket costs shuffle volume, not executor memory.
    Empty buckets keep their previous centroid (standard Lloyd fix)."""
    assigned = _nearest_buckets(vectors, centroids, "v", 1).select(
        F.col("centroid_id").alias("bucket"), "v")
    dims = (
        assigned.select("bucket", F.posexplode("v").alias("dim", "x"))
        .groupBy("bucket", "dim").agg(F.avg("x").alias("m"))
    )
    means = (
        dims.groupBy("bucket")
        .agg(F.array_sort(F.collect_list(F.struct("dim", "m"))).alias("dm"))
        .select(F.col("bucket").alias("centroid_id"),
                F.transform("dm", lambda s: s["m"]).alias("cvec"))
    )
    # empty buckets vanish from `means`; keep their old centroid so nlist
    # stays constant
    kept = centroids.join(means.select("centroid_id"), "centroid_id",
                          "anti")
    return means.unionByName(kept)


def _assign_rounded(
    vectors: DataFrame, centroids: DataFrame, sim_decimals: int
) -> DataFrame:
    """Nearest-centroid assignment on ROUNDED cosine sims (ties broken by
    the smaller centroid id) — the cross-engine-reproducible variant of
    ``_nearest_buckets``: rounding before the argmax is what lets a SQL
    oracle reproduce the exact same cluster choice.

    MAP-ONLY: the centroids are collected to the driver (k·dim doubles —
    tiny by the k-means contract) and inlined as a literal array, so the
    argmax is a per-row ``aggregate`` fold over the broadcast-as-literal
    centroids. No join, no window, NO corpus shuffle — the earlier
    join + ``row_number`` window shape repartitioned every corpus row
    (vector payload included) on ``__vid`` per call.

    Norms and sims are computed with the exact same Spark expressions as
    the windowed shape (``_norm``/``_dot`` in array order, round before
    argmax), so the chosen cluster and reported sim are bit-identical.
    The fold seeds with the first scored centroid and keeps the incumbent
    unless a strictly-better (sim, then smaller id) challenger appears —
    equivalent to the window's ``ORDER BY sim DESC, centroid_id``.

    ``vectors``: (__vid, v) · ``centroids``: (centroid_id, cvec).
    Returns (__vid, v, cluster, sim)."""
    # a centroid frame built by kmeans_fit carries its driver-side list
    # along — the collect below would be one more sequential job per
    # assign call for values the driver already holds
    cents = getattr(centroids, _KMEANS_CENTS_ATTR, None)
    if cents is None:
        rows = centroids.select("centroid_id", "cvec").collect()
        cents = sorted((r["centroid_id"], list(r["cvec"])) for r in rows)
    return _assign_lit(vectors, cents, sim_decimals)


def _py_norm(vec) -> float:
    """Bit-identical to ``_norm``: IEEE-double left fold of acc + x*x in
    array order, then sqrt — Python floats ARE doubles, so hoisting the
    per-centroid norm to the driver costs nothing in reproducibility and
    removes k·dim mults per corpus row (a literal higher-order fold is
    not constant-folded by Catalyst)."""
    import math

    acc = 0.0
    for x in vec:
        acc = acc + float(x) * float(x)
    return math.sqrt(acc)


def _assign_lit(
    vectors: DataFrame, cents: list, sim_decimals: int
) -> DataFrame:
    """``_assign_rounded``'s engine, taking the centroids as a
    driver-side list of ``(cid, vec)`` sorted by cid."""
    if not cents:
        raise ValueError("cannot assign against an empty centroid set")
    # each centroid VECTOR is one parsed SQL literal (repr round-trip =
    # bit-identical doubles), not dim× py4j ``F.lit`` round trips —
    # measured ~0.5 s of pure driver time per assign call at k=8, d=64.
    # The cid literal stays an ``F.lit`` so its TYPE (int/long/string,
    # whatever the id column collected as) is inferred exactly as before.
    cent_lit = F.array(*[
        F.struct(
            F.lit(cid).alias("cid"),
            F.expr("array({})".format(
                ",".join(f"{float(x)!r}D" for x in vec))).alias("cvec"),
            F.lit(_py_norm(vec)).alias("cn"),
        )
        for cid, vec in cents
    ])
    # each heavy array expression gets its own projection: CollapseProject
    # would otherwise re-inline it into every consumer (the verify-skill
    # minhash lesson) — it only collapses single-use or cheap aliases
    vs = vectors.select("__vid", "v", _norm(F.col("v")).alias("__vn"))
    scored = vs.select(
        "__vid", "v",
        F.transform(
            cent_lit,
            lambda c: F.struct(
                F.round(
                    _dot(F.col("v"), c["cvec"])
                    / (F.col("__vn") * c["cn"]),
                    sim_decimals,
                ).alias("sim"),
                c["cid"].alias("cid"),
            ),
        ).alias("__sc"),
    )
    sc = F.col("__sc")
    best = scored.select(
        "__vid", "v",
        F.aggregate(
            F.slice(sc, 2, F.greatest(F.size(sc) - 1, F.lit(0))),
            F.element_at(sc, 1),
            lambda acc, s: F.when(
                (s["sim"] > acc["sim"])
                | ((s["sim"] == acc["sim"]) & (s["cid"] < acc["cid"])),
                s,
            ).otherwise(acc),
        ).alias("__best"),
    )
    return best.select(
        "__vid", "v", F.col("__best.cid").alias("cluster"),
        F.col("__best.sim").alias("sim"))


def _lloyd_means_exact(
    assigned: DataFrame, centroid_decimals: int
) -> DataFrame:
    """One EXACT-arithmetic Lloyd update: new centroid = per-dimension mean
    of its cluster, summed as DECIMAL(38,12) (associative — the result does
    not depend on Spark's partition/merge order, unlike a double sum) and
    rounded to ``centroid_decimals`` before the next assignment. That makes
    a trained k-means bit-reproducible across runs AND across engines — a
    DuckDB oracle replays the identical iteration. ``_lloyd_round`` (the
    IVF trainer) stays the cheap float path where reproducibility of the
    refined centroids is explicitly not promised.

    Returns the slim ``(cluster, dim, m)`` means — k·dim rows, collected
    by ``kmeans_fit`` which assembles vectors on the driver (so there is
    no second per-iteration shuffle for array assembly, and empty-cluster
    retention is a dict merge, not an anti-join). (cluster, dim)-keyed
    partials are map-side combinable; a whole cluster's vectors never
    meet in one task."""
    return (
        assigned.select("cluster", F.posexplode("v").alias("dim", "x"))
        .groupBy("cluster", "dim")
        .agg(F.sum(F.col("x").cast("decimal(38,12)")).alias("s"),
             F.count("*").alias("n"))
        .select("cluster", "dim",
                F.round(F.col("s").cast("double") / F.col("n"),
                        centroid_decimals).alias("m"))
    )


def kmeans_fit(
    df: DataFrame,
    k: int = 8,
    iters: int = 2,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_decimals: int = 6,
    sim_decimals: int = 6,
) -> DataFrame:
    """Distributed Lloyd's k-means over an embedding column, fully
    deterministic and cross-engine reproducible (public algorithm:
    Lloyd 1982; the decimal-sum trick is just fixed-point arithmetic).

    - init: the ``k`` vectors with the lowest ``md5(id)`` — a seeded
      pseudo-random sample both engines can replay (no wall-clock, no RNG).
      Cluster labels are the seed ids.
    - assign: centroids inlined as a literal, cosine rounded to
      ``sim_decimals``, ties to the smaller centroid id (``_assign_lit``).
    - update: exact decimal per-dimension means (``_lloyd_means_exact``).

    Scale: per iteration, one corpus scan (map-only — centroids ride into
    the scan as a driver literal) + one map-side-combinable
    (cluster, dim) shuffle whose k·dim-row result is collected; the
    centroids themselves LIVE ON THE DRIVER between rounds (k·dim
    doubles), so an iteration is exactly one Spark job — no checkpoint,
    no anti-join, no array-assembly shuffle. The corpus never shuffles.
    The driver-resident contract bounds k: this is the moderate-k
    clustering path (SemDeDup, data maps); huge-k IVF bucket training
    stays on ``_lloyd_round``'s all-DataFrame float path.

    Returns the trained centroids ``(centroid_id, cvec)`` as a (local)
    DataFrame; feed to ``kmeans_assign``."""
    seed_rows = (
        df.select(F.col(id_col).alias("cid"), _as_double(vec_col).alias("v"),
                  F.md5(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h", "cid").limit(k).select("cid", "v").collect()
    )
    cents = {r["cid"]: list(r["v"]) for r in seed_rows}
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    for _ in range(iters):
        assigned = _assign_lit(vectors, sorted(cents.items()), sim_decimals)
        rows = _lloyd_means_exact(assigned, centroid_decimals).collect()
        upd: dict = {}
        for r in rows:
            upd.setdefault(r["cluster"], {})[r["dim"]] = r["m"]
        for cid, dm in upd.items():  # absent clusters keep their centroid
            cents[cid] = [dm[i] for i in range(len(dm))]
    from pyspark.sql import types as T

    schema = T.StructType([
        T.StructField("centroid_id", df.schema[id_col].dataType),
        T.StructField("cvec", T.ArrayType(T.DoubleType())),
    ])
    out = df.sparkSession.createDataFrame(
        sorted(cents.items()), schema=schema)
    # ride the driver-resident centroids along (the kmeans contract —
    # k·dim doubles) so downstream assign/probe calls skip a collect job
    setattr(out, _KMEANS_CENTS_ATTR,
            sorted((cid, list(vec)) for cid, vec in cents.items()))
    return out


def kmeans_assign(
    df: DataFrame,
    centroids: DataFrame,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
) -> DataFrame:
    """Assign every vector to its nearest trained centroid. Returns
    ``(id_col, cluster, sim)`` — map-only over the corpus (centroids
    broadcast), so this is a single pass at any scale."""
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    a = _assign_rounded(vectors, centroids, sim_decimals)
    return a.select(F.col("__vid").alias(id_col), "cluster", "sim")


def semantic_dedup(
    df: DataFrame,
    threshold: float = 0.45,
    k: int = 8,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    pair_decimals: int = 4,
    centroid_decimals: int = 6,
    sim_decimals: int = 6,
    target_bucket_rows: int = 100_000,
    max_bucket_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (public technique: Abbas et
    al. 2023, "SemDeDup: Data-efficient learning at web-scale through
    semantic deduplication"): k-means-cluster the embeddings, then drop
    any document with a DIRECT same-cluster neighbor of cosine ≥
    ``threshold`` and a smaller id. NOTE this is a neighbor-wise rule,
    not the transitive component-min rule of
    ``dedup.connected_components``/``canonical_docs``: for pairs
    (1,5),(2,5) it keeps {1,2} and drops {5}, where the component rule
    would keep only {1} — SemDeDup's per-cluster pruning semantics, kept
    deliberately (feed ``pairs`` to ``connected_components`` for the
    transitive variant). Candidate pairs are generated ONLY within
    a cluster, so cost is Σ|cluster|² instead of n² — and each oversized
    cluster is salted into blocked-matmul tasks under the
    ``cosine_pairs_bucketed`` memory contract (shared helper).

    Returns ``(id_col, cluster, keep)`` — one row per input vector.
    Deterministic end-to-end: the exact k-means makes the clustering
    reproducible, the rounded pair sims make the drop set reproducible.
    Recall caveat (inherent to SemDeDup): a near-dup pair split across two
    clusters is not examined — raise ``k``'s training quality (``iters``)
    or lower ``k`` to trade cost for recall.

    Scale: the fit costs ``iters`` map-only corpus scans (+ the seed
    pass); the final assignment is computed ONCE and persisted
    (MEMORY_AND_DISK) because both the pair generation and the output
    join read it — the caller owns the block's lifetime via
    ``functions.cache.release`` (see that module's contract). Pairs are
    one cluster-keyed shuffle; the drop-set join is broadcast-able. The
    corpus is never collected; the drop set is at most one id per input
    row."""
    from pyspark import StorageLevel

    from .cache import track

    id_type = df.schema[id_col].dataType.simpleString()
    if id_type not in ("bigint", "int", "smallint", "tinyint"):
        raise ValueError(
            f"semantic_dedup: id_col {id_col!r} must be integral, got "
            f"{id_type} — the blocked pair kernel works on int64 ids "
            "(string ids would die mid-job in the Arrow batch instead)")
    cap = max_bucket_rows or target_bucket_rows
    if n_rows is None:
        # guard probe, not a full count (see cosine_pairs_bucketed)
        n_rows = df.limit(cap + 1).count()
    centroids = kmeans_fit(df, k=k, iters=iters, id_col=id_col,
                           vec_col=vec_col,
                           centroid_decimals=centroid_decimals,
                           sim_decimals=sim_decimals)
    vectors = df.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    assigned = narrow_small(
        _assign_rounded(vectors, centroids, sim_decimals)).persist(
        StorageLevel.MEMORY_AND_DISK)
    probed = assigned.select(
        F.col("__vid").cast("long").alias("id"), "v",
        F.col("cluster").alias("bucket"))
    pairs = _pairs_within_buckets(probed, threshold, pair_decimals, cap,
                                  n_rows, multi_membership=False)
    drops = pairs.select(F.col("id_b").alias("__drop")).distinct()
    out = (
        assigned.join(drops, assigned["__vid"] == drops["__drop"], "left")
        .select(F.col("__vid").alias(id_col), "cluster",
                F.col("__drop").isNull().alias("keep"))
    )
    return track(out, assigned)


def ivf_topk(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Approximate top-k: probe only the ``nprobe`` nearest buckets per
    query. Same output contract as ``cosine_topk``; probes touch
    ~``nprobe/nlist`` of the corpus instead of all of it."""
    assigned, centroids = ivf_assign(corpus, nlist, id_col, vec_col)
    return ivf_topk_indexed(assigned, centroids, queries, k, nprobe,
                            id_col, vec_col, decimals)


def write_ivf_index(
    df: DataFrame,
    path: str,
    nlist: int = 16,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    train_iters: int = 0,
    fs=None,
) -> None:
    """Materialize the IVF index on storage: the raw vectors partitioned
    by ``bucket`` (so probes prune at the partition level) plus the
    centroid table, committed under one ``_ann.json`` root (see the
    persisted-index protocol below). Index once, search many — searches
    never re-assign the corpus. ``fs`` is the ``metrique_spark.fs``
    backend the root is read and swapped through (default: local)."""
    _write_index(df, path, fs, "ivf", id_col, vec_col, nlist=nlist,
                 train_iters=train_iters)


def read_ivf_index(spark, path: str, fs=None) -> tuple:
    """(assigned, centroids) back from ``write_ivf_index`` output."""
    _, root = _read_root(_default_fs(fs), path)
    return _frame(spark, path, root), _centroids(spark, path, root)


def append_to_ivf_index(
    batch: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
) -> None:
    """Extend a stored IVF index with a new batch — the ANN analog of the
    appendable MinHash text index: assign the batch against the STORED
    centroids (frozen, so bucket semantics never shift under readers)
    and commit its slim (id, v, bucket) rows as one new batch, through
    the one append path every kind shares (``append_to_pq_index``;
    ``id_col`` names the batch's id column). Cost is O(batch)·nlist
    centroid scoring — the existing corpus is never re-read or
    re-assigned, and ``ivf_topk_indexed`` probes see old and new
    vectors identically. Centroids drifting from the data distribution
    degrade recall, not correctness; re-run ``write_ivf_index`` when
    bucket sizes skew."""
    fs = _default_fs(fs)
    raw, root = _read_root(fs, path)
    _publish(fs, path, raw, _stage_append(
        batch.withColumnRenamed(id_col, root["id_col"]), path, root,
        vec_col))


def ivf_topk_indexed(
    assigned: DataFrame,
    centroids: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Top-k against a prebuilt IVF index (in-plan from ``ivf_assign`` or
    storage-backed from ``read_ivf_index``). Probing a bucket-partitioned
    stored index turns the bucket equi-join into dynamic partition
    pruning: only the ~``nprobe``·|queries| probed bucket directories are
    read at all — the scan cost rides the probe count, not the corpus."""
    q = queries.select(F.col(id_col).alias("__vid"),
                       _as_double(vec_col).alias("qv"))
    q_probed = (
        _nearest_buckets(q, centroids, "qv", nprobe)
        .select(F.col("__vid").alias("query_id"), "qv",
                F.col("centroid_id").alias("qbucket"))
    )
    scored = (
        assigned.withColumnRenamed(id_col, "neighbor_id")
        .join(F.broadcast(q_probed),
              (F.col("bucket") == F.col("qbucket"))
              & (F.col("query_id") != F.col("neighbor_id")))
        .withColumn("sim", F.round(cosine(F.col("qv"), F.col("v")), decimals))
    )
    w = Window.partitionBy("query_id").orderBy(F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def ivf_knn_join(
    left: DataFrame,
    right: DataFrame,
    k: int = 5,
    nlist: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
    target_bucket_rows: int = 100_000,
    max_bucket_rows: int | None = None,
    n_rows: int | None = None,
) -> DataFrame:
    """k-NN JOIN for two LARGE embedding tables — the case
    ``cosine_topk`` can't cover (it broadcasts the query side; fine for
    10 queries, impossible for 100M). Both sides bucket against the same
    IVF centroids: the right side is assigned to its nearest bucket, each
    left vector probes its ``nprobe`` nearest buckets, candidates join on
    the bucket id, and a per-left window keeps the top-k. Exact when
    ``nprobe >= nlist``; otherwise recall follows the probe ratio.

    Scale shape: the join key is the bucket id, so the candidate volume
    is ~|L|·|R|·nprobe/nlist with both sides shuffled once — no broadcast
    of either table, no cartesian. ``nlist=None`` auto-sizes from the
    right-side count (``auto_nlist``). Output: (left id aliased
    ``query_id``, ``neighbor_id``, ``sim``); a left row also present in
    right does not match itself.

    MEMORY CONTRACT (hard, skew-proof): a task holds at most
    ~2×``max_bucket_rows`` rows (default: ``target_bucket_rows``).
    Each side of an oversized bucket splits independently into
    ⌈n/cap⌉ hash-blocks; the task key becomes (bucket, left-block,
    right-block), left rows replicate across the right side's blocks and
    vice versa — the standard blocked matmul, so a skewed (hot) bucket
    costs replicated shuffle volume instead of an executor OOM. Every
    (left, right) candidate meets in exactly one task per bucket, and
    the per-task top-k unions remain a superset of the bucket-local
    top-k, so the final window output is IDENTICAL to the unsalted
    plan.

    ``n_rows``: optional caller-supplied UPPER BOUND on the COMBINED
    left+right row count (e.g. parquet footer totals) — skips the
    guard-probe job. Over-estimates are safe (they only engage the
    output-identical salted branch); never pass a bound that could be
    low."""
    from pyspark import StorageLevel
    cap = max_bucket_rows or target_bucket_rows
    if n_rows is not None:
        salted = n_rows > cap
        if nlist is None:
            nlist = auto_nlist(n_rows, target_bucket_rows)
    elif nlist is None:
        n_right = right.count()
        nlist = auto_nlist(n_right, target_bucket_rows)
        salted = n_right > cap or left.limit(cap + 1).count() > cap
    else:
        # one short-circuiting guard probe over both sides: a task holds
        # rows from both, so combined ≤ cap ⇒ no bucket side can overflow.
        # (Conservative the other way is harmless: salting an under-cap
        # bucket yields one block per side — the identity grouping.)
        salted = (
            left.select(F.lit(1).alias("__x"))
            .unionByName(right.select(F.lit(1).alias("__x")))
            .limit(cap + 1).count() > cap)
    assigned, centroids = ivf_assign(right, nlist, id_col, vec_col)
    lvec = left.select(F.col(id_col).cast("long").alias("__vid"),
                       _as_double(vec_col).alias("lv"))
    if nprobe >= nlist:
        probed = lvec.join(
            F.broadcast(centroids.select(
                F.col("centroid_id").alias("bucket")))
        ).select(F.col("__vid").alias("query_id"), "lv", "bucket")
    else:
        probed = _nearest_buckets(lvec, centroids, "lv", nprobe).select(
            F.col("__vid").alias("query_id"), "lv",
            F.col("centroid_id").alias("bucket"))
    # Scoring rides one applyInPandas per bucket (same BLAS-per-group shape
    # and memory contract as cosine_pairs_bucketed): both roles union into
    # the group, one matmul scores the block, and only each left's bucket-
    # local top-k leaves Python — the global top-k is a subset of the
    # per-bucket top-k unions, so the final window ranks k·nprobe rows per
    # left instead of every candidate. Measured ~4× over evaluating the
    # dot product as interpreted higher-order lambdas per joined pair.
    tagged = probed.select(
        "bucket", F.lit(1).alias("role"),
        F.col("query_id").alias("id"), F.col("lv").alias("v"),
    ).unionByName(assigned.select(
        "bucket", F.lit(0).alias("role"),
        F.col(id_col).cast("long").alias("id"), "v"))

    # skew guard: when the guard probe showed everything fits under the
    # cap, group on the bucket alone with zero extra jobs (every small
    # input and the oracle-gate configuration). Above the cap, per-bucket
    # counts drive independent blocking of each side; persist so the
    # probe/assignment windows aren't recomputed for the count pass
    # (MEMORY_AND_DISK spills rather than OOMs).
    if salted:
        tagged = narrow_small(tagged).persist(StorageLevel.MEMORY_AND_DISK)
        counts = tagged.groupBy("bucket").agg(
            F.sum("role").alias("__ln"),
            F.sum(1 - F.col("role")).alias("__rn"))
        tagged = (
            tagged.join(F.broadcast(counts), "bucket")
            .withColumn("__nl", _n_blocks("__ln", cap))
            .withColumn("__nr", _n_blocks("__rn", cap))
            # a row blocks within its own side...
            .withColumn("__blk", F.pmod(
                F.xxhash64(F.col("id")),
                F.when(F.col("role") == 1,
                       F.col("__nl")).otherwise(F.col("__nr"))
            ).cast("int"))
            # ...and replicates across the OTHER side's blocks
            .withColumn("__ob", F.explode(F.sequence(
                F.lit(0),
                F.when(F.col("role") == 1, F.col("__nr"))
                .otherwise(F.col("__nl")) - 1)))
            .withColumn("__lb", F.when(F.col("role") == 1,
                                       F.col("__blk")).otherwise(F.col("__ob")))
            .withColumn("__rb", F.when(F.col("role") == 1,
                                       F.col("__ob")).otherwise(F.col("__blk")))
            .select("bucket", "__lb", "__rb", "role", "id", "v")
        )
    group_keys = ["bucket", "__lb", "__rb"] if salted else ["bucket"]

    def per_bucket(pdf):
        import numpy as np
        import pandas as pd

        L = pdf[pdf["role"] == 1]
        R = pdf[pdf["role"] == 0]
        if not len(L) or not len(R):
            return pd.DataFrame(
                {"query_id": pd.Series(dtype="int64"),
                 "neighbor_id": pd.Series(dtype="int64"),
                 "sim": pd.Series(dtype="float64")})
        lids = L["id"].to_numpy(dtype=np.int64)
        rids = R["id"].to_numpy(dtype=np.int64)
        lmat = np.array(list(L["v"]), dtype=np.float64)
        rmat = np.array(list(R["v"]), dtype=np.float64)
        scale = 10.0 ** decimals
        # half-UP rounding like Spark F.round / DuckDB round (np.round is
        # banker's) — keeps exact-mode oracle parity
        sims = np.floor(
            (lmat @ rmat.T)
            / (np.linalg.norm(lmat, axis=1)[:, None]
               * np.linalg.norm(rmat, axis=1)[None, :])
            * scale + 0.5) / scale
        sims[lids[:, None] == rids[None, :]] = -np.inf  # no self-match
        # per-left top-k by (sim desc, neighbor_id asc) — the same order
        # the global window uses, so the union stays a superset of the
        # true top-k
        order = np.lexsort((rids[None, :].repeat(len(lids), 0), -sims),
                           axis=1)[:, :k]
        qi = np.repeat(lids, order.shape[1])
        ni = rids[order.ravel()]
        sv = np.take_along_axis(sims, order, axis=1).ravel()
        keep = sv > -np.inf
        return pd.DataFrame({"query_id": qi[keep], "neighbor_id": ni[keep],
                             "sim": sv[keep]})

    cand = tagged.groupBy(*group_keys).applyInPandas(
        per_bucket, schema="query_id bigint, neighbor_id bigint, sim double")
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        cand.distinct()  # a pair can meet in several probed buckets
        .withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .drop("__rk")
    )


def knn_classify(
    queries: DataFrame,
    corpus: DataFrame,
    k: int = 5,
    label_col: str = "label",
    nlist: int | None = 16,
    nprobe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    n_rows: int | None = None,
) -> DataFrame:
    """Majority-vote k-NN classification over an embedding column — the
    standard label-propagation / embedding-quality eval (predict each
    query's label from its k nearest labeled neighbors). Returns
    ``(query_id, pred_label, votes)``; ties break toward the smallest
    label for determinism. Exact when ``nprobe >= nlist``; otherwise
    recall follows the probe ratio.

    Pure composition: neighbors from ``ivf_knn_join`` (both sides large,
    bucketed, no broadcast of either table), labels joined on the
    neighbor id, then a per-query majority via one map-side-combinable
    count aggregate + a min-of-struct argmax — no window over the
    candidate stream."""
    nn = ivf_knn_join(queries, corpus, k=k, nlist=nlist, nprobe=nprobe,
                      id_col=id_col, vec_col=vec_col, n_rows=n_rows)
    labels = corpus.select(F.col(id_col).alias("neighbor_id"),
                           F.col(label_col).alias("__lbl"))
    votes = (
        nn.join(labels, "neighbor_id")
        .groupBy("query_id", "__lbl")
        .agg(F.count("*").alias("votes"))
    )
    return (
        votes.groupBy("query_id")
        .agg(F.min(F.struct((-F.col("votes")).alias("nv"),
                            F.col("__lbl").alias("l"))).alias("m"))
        .select("query_id",
                F.col("m.l").alias("pred_label"),
                (-F.col("m.nv")).cast("long").alias("votes"))
    )


def cosine_range_search(
    corpus: DataFrame,
    queries: DataFrame,
    min_sim: float = 0.8,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    decimals: int = 4,
) -> DataFrame:
    """Radius search: ALL corpus neighbors with cosine ≥ ``min_sim`` per
    query (the query type top-k can't answer — "everything this close",
    not "the k closest"). Same broadcast shape as ``cosine_topk`` minus
    the ranking window: the corpus is scanned once, queries broadcast,
    and the threshold filter runs inside the scan stage — NO shuffle at
    all, so at 100 TB this is a single pass whose output is just the
    matches. Returns (query_id, neighbor_id, sim), self-matches
    excluded."""
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(vec_col).alias("qv"))
    q = q.select("query_id", "qv", _norm(F.col("qv")).alias("qn"))
    c = corpus.select(F.col(id_col).alias("neighbor_id"),
                      _as_double(vec_col).alias("cv"))
    c = c.select("neighbor_id", "cv", _norm(F.col("cv")).alias("cn"))
    return (
        c.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("sim", F.round(
            _dot(F.col("qv"), F.col("cv")) / (F.col("qn") * F.col("cn")),
            decimals))
        .where(F.col("sim") >= min_sim)
        .select("query_id", "neighbor_id", "sim")
    )


# ---------------------------------------------------------------------------
# product quantization (Jégou et al. 2011, "Product Quantization for
# Nearest Neighbor Search"): the compressed-codes scale path — at 100 TB
# of embeddings the scoring pass reads m small codes per vector instead
# of the full float payload, and the codebooks are driver-resident
# (m·k·(dim/m) doubles). Canonical L2 formulation: codewords minimize
# squared distance to the subvector (magnitude matters — the code must
# RECONSTRUCT the subvector for the dot-product approximation), with
# the distance computed via the expansion |x|² − 2·x·c + |c|² rounded
# at fixed decimals so both engines argmin the identical values.


def _book_lit_sql(book: list) -> str:
    """One SQL literal for a whole codebook — a single parsed expression
    instead of thousands of py4j ``F.lit`` round trips (measured: the
    Column-by-Column construction costs seconds of DRIVER time per
    codebook set before any job runs). ``repr(float)`` is the shortest
    round-trip rendering, so the parsed doubles are bit-identical."""
    cws = ",".join(
        "named_struct('cvec', array({}), 'cn2', {!r}D)".format(
            ",".join(f"{float(x)!r}D" for x in vec),
            float(sum(x * x for x in vec)))
        for vec in book)
    return f"array({cws})"


def _books_lit_sql(codebooks: list) -> str:
    """ALL codebooks as one parsed SQL literal: array (over subspaces) of
    array (over codewords) of ``named_struct('cvec', ..., 'cn2', ...)``.
    One driver-side parse for the whole codebook set; the per-element
    doubles are identical to ``_book_lit_sql``'s."""
    return "array({})".format(",".join(
        _book_lit_sql(book) for book in codebooks))


def _subsv_expr(vcol: Column, m: int, sub_len: int) -> Column:
    """Per-subspace slices as ONE array-of-arrays expression (each slice
    evaluated once, by lambda-variable binding in the consumers)."""
    return F.transform(
        F.sequence(F.lit(0), F.lit(m - 1)),
        lambda j: F.slice(vcol, j * sub_len + 1, sub_len))


def _d2mat_expr(subsv: Column, codebooks: list,
                dist_decimals: int) -> Column:
    """Rounded squared-L2 distances to every codeword of every subspace:
    array (per subspace) of array (per codeword), via ONE two-arg
    transform lambda over the materialized slices and ONE all-codebooks
    literal — the tree-size-collapsed twin of m unrolled ``_l2_d2s``
    columns (identical fold arithmetic per element, so the rounded
    distances are bit-identical; the m-unrolled shape cost ~1 s of
    Catalyst analysis PER QUERY at m=16). ``subsv``/the lambda vars are
    bound VALUES, so multiple references don't re-evaluate the slice."""
    allb = F.expr(_books_lit_sql(codebooks))
    return F.transform(
        subsv,
        lambda sv, j: F.transform(
            F.element_at(allb, j + 1),
            lambda cw: F.round(
                _dot(sv, sv) - 2 * _dot(sv, cw["cvec"]) + cw["cn2"],
                dist_decimals)))


def _l2_d2s(sub: Column, book: list, dist_decimals: int) -> Column:
    """Per-codeword rounded squared-L2 distances (dot expansion,
    codewords as one parsed SQL literal). Callers MUST alias this in
    its own projection before taking the argmin — ``array_position(d,
    array_min(d))`` references it twice, and without the alias the
    interpreted k-fold transform evaluates twice per row (CollapseProject
    keeps a multi-use non-cheap alias materialized)."""
    xn2 = _dot(sub, sub)
    cents = F.expr(_book_lit_sql(book))
    return F.transform(
        cents,
        lambda cw: F.round(xn2 - 2 * _dot(sub, cw["cvec"]) + cw["cn2"],
                           dist_decimals))


def _argmin_code(d2s: Column) -> Column:
    """Argmin index over a distances array — first occurrence of the
    min IS the lowest code (the deterministic tie-break)."""
    return (F.array_position(d2s, F.array_min(d2s)) - 1).cast("int")


def pq_train(
    df: DataFrame,
    m: int = 8,
    k: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    centroid_decimals: int = 6,
    dist_decimals: int = 6,
) -> list:
    """Train product-quantization codebooks: split the vector into ``m``
    contiguous subspaces and fit a DETERMINISTIC L2 k-means codebook in
    each — md5-seeded init (the k subvectors with the lowest
    ``md5(id)``), rounded-distance argmin with ties to the lower code,
    DECIMAL(38,12) per-dimension means — so the whole training replays
    bit-identically in a SQL oracle. Returns the driver-resident
    codebooks: a list of ``m`` lists of ``k`` subvectors; the CODE of a
    codeword is its position (seed-id order for the initial set).

    Scale: ``m · iters`` single-job corpus passes (each round is one
    map-only scan with literal codewords + one combinable
    (code, dim) shuffle collected as k·(dim/m) rows); the corpus never
    shuffles and the driver holds only the codebooks."""
    seed_rows = (
        df.select(F.col(id_col).alias("cid"),
                  _as_double(vec_col).alias("v"),
                  F.md5(F.col(id_col).cast("string")).alias("h"))
        .orderBy("h", "cid").limit(k).select("cid", "v").collect())
    # dim comes from the seed rows — the former separate ``first()``
    # probe was one more sequential job per train call
    if not seed_rows:
        raise ValueError("pq_train: empty input")
    dim = len(seed_rows[0]["v"])
    if dim % m:
        raise ValueError(f"pq_train: dim {dim} not divisible by m={m}")
    sub_len = dim // m
    books = [[list(r["v"][j * sub_len:(j + 1) * sub_len])
              for r in seed_rows] for j in range(m)]
    from metrique_spark.functions.dedup import spread_small_scan

    v = _as_double(vec_col)
    # the argmin folds are interpreted HOFs — a single-row-group input
    # would run them all on one core (spread_small_scan is a no-op at
    # real scale where the input has thousands of splits). The slices
    # are ONE array-of-arrays column and the distances ONE two-level
    # lambda over a single all-codebooks literal (see _d2mat_expr) —
    # the m-unrolled per-subspace columns cost ~1 s of Catalyst
    # analysis per iteration at m=16 for identical per-element folds.
    subs = spread_small_scan(df.select(v.alias("__v"))).select(
        _subsv_expr(F.col("__v"), m, sub_len).alias("__sv"))
    for _ in range(iters):
        # ALL m subspace argmins in one pass, then ONE combinable
        # (sub, code, dim) shuffle collected as m·k·(dim/m) rows — an
        # iteration is a single job whatever m is (per-subspace jobs
        # would scan the corpus m times). Persist before the explode:
        # Generate re-evaluates its input per output row, which would
        # rerun every argmin fold m times per vector (the classifier
        # gradient lesson). The distance matrix gets its own projection
        # so the argmin's double reference doesn't re-run the folds.
        from pyspark import StorageLevel

        assigned = (subs.select(
            "__sv",
            _d2mat_expr(F.col("__sv"), books, dist_decimals)
            .alias("__dm"))
            .select(
            "__sv",
            F.transform(F.col("__dm"), _argmin_code).alias("__c")))
        assigned = narrow_small(assigned).persist(
            StorageLevel.MEMORY_AND_DISK)
        rows = (assigned
                .select("__sv", F.posexplode("__c").alias("sub", "code"))
                .select("sub", "code",
                        F.posexplode(F.element_at("__sv",
                                                  F.col("sub") + 1))
                        .alias("dim", "x"))
            .groupBy("sub", "code", "dim")
            .agg(F.sum(F.col("x").cast("decimal(38,12)")).alias("s"),
                 F.count("*").alias("n"))
            .select("sub", "code", "dim",
                    F.round(F.col("s").cast("double") / F.col("n"),
                            centroid_decimals).alias("mval"))
            ).collect()
        assigned.unpersist(blocking=False)
        upd: dict = {}
        for r in rows:
            upd.setdefault((r["sub"], r["code"]), {})[r["dim"]] = r["mval"]
        for (j, c), dm in upd.items():   # empty codes keep their codeword
            books[j][c] = [dm[i] for i in range(sub_len)]
    return books


def pq_encode(
    df: DataFrame,
    codebooks: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    dist_decimals: int = 6,
) -> DataFrame:
    """(id, codes array<int>) — each vector compressed to ``m`` codebook
    indices by rounded-L2 argmin. Map-only: codebooks ride into the
    scan as ONE parsed literal; the distance matrix is materialized in
    its own projection so the argmin doesn't re-run the folds (it
    references its input twice), mirroring the old per-subspace
    two-step shape with an m×-smaller expression tree."""
    from metrique_spark.functions.dedup import spread_small_scan

    m = len(codebooks)
    sub_len = len(codebooks[0][0])
    v = _as_double(vec_col)
    sliced = spread_small_scan(df.select(F.col(id_col), v.alias("__v")))
    dists = sliced.select(
        F.col(id_col),
        _d2mat_expr(_subsv_expr(F.col("__v"), m, sub_len), codebooks,
                    dist_decimals).alias("__dm"))
    return dists.select(
        F.col(id_col),
        F.transform(F.col("__dm"), _argmin_code).alias("codes"))


def _pq_query_frame(queries: DataFrame, codebooks: list,
                    id_col: str, vec_col: str) -> DataFrame:
    """(query_id, __qn, __lut): each query's norm and per-subspace ADC
    lookup tables — one dot per codeword, codebooks as single parsed
    SQL literals (see _book_lit_sql). Broadcast side of every ADC
    scorer."""
    m = len(codebooks)
    sub_len = len(codebooks[0][0])
    qv = _as_double(vec_col)
    q = queries.select(F.col(id_col).alias("query_id"),
                       qv.alias("__qv"))

    # one parsed vectors-only literal for ALL books + one two-arg
    # transform (sv bound once per subspace) — identical dot folds to
    # the former m unrolled per-subspace transforms, m× smaller tree
    allv = F.expr("array({})".format(",".join(
        "array({})".format(",".join(
            "array({})".format(",".join(f"{float(x)!r}D" for x in vec))
            for vec in book))
        for book in codebooks)))
    luts = F.transform(
        _subsv_expr(F.col("__qv"), m, sub_len),
        lambda sv, j: F.transform(F.element_at(allv, j + 1),
                                  lambda cv: _dot(sv, cv)))
    return q.select("query_id", _norm(F.col("__qv")).alias("__qn"),
                    luts.alias("__lut"))


def _adc_exprs(codebooks: list):
    """(numerator, reconstruction-norm²) ADC expressions over a frame
    carrying ``codes`` and the broadcast ``__lut``."""
    normsq_lit = F.expr("array({})".format(",".join(
        "array({})".format(",".join(
            f"{float(sum(x * x for x in vec))!r}D" for vec in book))
        for book in codebooks)))
    num = F.aggregate(
        F.zip_with(F.col("codes"), F.col("__lut"),
                   lambda c, lut: F.element_at(lut, c + 1)),
        F.lit(0.0), lambda a, x: a + x)
    rn2 = F.aggregate(
        F.zip_with(F.col("codes"), normsq_lit,
                   lambda c, l: F.element_at(l, c + 1)),
        F.lit(0.0), lambda a, x: a + x)
    return num, rn2


def pq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    codebooks: list,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    max_query_rows: int | None = 10_000,
) -> DataFrame:
    """Approximate cosine top-k by asymmetric distance computation
    (ADC): the corpus is scored through its codes alone —
    ``cos(q, x) ≈ Σ_j dot(q_j, codeword_j) / (|q| · |x̃|)`` with ``x̃``
    the codebook reconstruction — so per (query, vector) the work is
    ``m`` lookup-table reads, never a full-vector dot. Query lookup
    tables (m·k dots each) are built once per query on the broadcast
    side; reconstruction norms come from a codebook-norm table and the
    codes. Returns ``(query_id, neighbor_id, score)``, self-matches
    excluded, ties to the lower neighbor id. Approximate by
    construction — recall rides the bit budget m·log2(k) (pinned by
    test; note the synthetic gate corpus is near-random, PQ's worst
    case) — but the SQL oracle replays the identical computation, so
    value-parity holds exactly.

    COMPRESSION, NOT PRUNING: every code row is scored against every
    query — the scan is |corpus|·|queries| lookup folds (the rank≤k
    window is map-side-limited, but the scan cost is real). That is the
    right trade for a small interactive query batch over a corpus whose
    float payload doesn't fit; a LARGE query batch belongs on
    ``ivfpq_topk`` (coarse probes prune the scan to ~nprobe/nlist) or a
    stored ``write_ivfpq_index`` + ``ivfpq_topk_indexed``. The
    ``max_query_rows`` guard (one cheap ``limit().count()`` probe on
    the query side) fails loud instead of silently running the
    quadratic scan — pass None to override deliberately."""
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import track

    # persist the codes: the scoring expressions reference them several
    # times (ADC numerator + reconstruction norm) and the encode argmin
    # folds are interpreted HOFs — re-inlining them per reference is
    # the dominant cost. Caller releases via functions.cache.release.
    codes = narrow_small(pq_encode(corpus, codebooks, id_col=id_col,
                                   vec_col=vec_col)).persist(
        StorageLevel.MEMORY_AND_DISK)
    out = pq_topk_codes(codes, codebooks, queries, k=k, id_col=id_col,
                        vec_col=vec_col, score_decimals=score_decimals,
                        max_query_rows=max_query_rows)
    return track(out, codes)


def pq_topk_codes(
    codes: DataFrame,
    codebooks: list,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    max_query_rows: int | None = 10_000,
) -> DataFrame:
    """ADC top-k against an ALREADY-ENCODED corpus — the scoring half of
    ``pq_topk``, shared with the storage-backed path
    (``read_pq_index`` → search): per (query, vector) the work is ``m``
    lookup-table reads over the ``codes`` column; queries broadcast with
    their per-subspace LUTs. NOTE this is compression without pruning —
    every code row is scored per query batch (``max_query_rows`` guards
    the quadratic scan, see ``pq_topk``); large query batches belong on
    ``ivfpq_topk``/``ivfpq_topk_indexed`` where coarse probes prune the
    scan."""
    from pyspark.sql import Window

    if max_query_rows is not None:
        nq = queries.limit(max_query_rows + 1).count()
        if nq > max_query_rows:
            raise ValueError(
                f"pq_topk: query side exceeds {max_query_rows} rows — "
                "the flat ADC scan is |corpus|x|queries|; use "
                "ivfpq_topk / ivfpq_topk_indexed (coarse probes prune "
                "the scan), or pass max_query_rows=None to force")

    q = _pq_query_frame(queries, codebooks, id_col, vec_col)
    num, rn2 = _adc_exprs(codebooks)
    scored = (codes.crossJoin(F.broadcast(q))
              .where(F.col(id_col) != F.col("query_id"))
              .select("query_id", F.col(id_col).alias("neighbor_id"),
                      F.round(num / (F.col("__qn") * F.sqrt(rn2)),
                              score_decimals).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= k).drop("__rk"))


def _probe_lists(
    qv: DataFrame, centroids: DataFrame, nprobe: int, sim_decimals: int
) -> DataFrame:
    """Top-``nprobe`` inverted lists per query, by the SAME rounded cosine
    the corpus assignment used (sort comparator: sim desc, then centroid
    id asc — the cross-engine-reproducible order). Map-only: the
    centroids ride into the scan as a driver literal (k·dim doubles) and
    the selection is an in-row array sort + slice — no join, no window,
    no shuffle of the query frame.

    ``qv``: (query_id, __qv double array). Returns (query_id, cluster),
    ``nprobe`` rows per query."""
    cent_rows = getattr(centroids, _KMEANS_CENTS_ATTR, None)
    if cent_rows is None:
        cent_rows = sorted((r["centroid_id"], list(r["cvec"]))
                           for r in centroids.collect())
    return _probe_lists_lit(qv, cent_rows, nprobe, sim_decimals)


def _probe_lists_lit(
    qv: DataFrame, cent_rows: list, nprobe: int, sim_decimals: int
) -> DataFrame:
    """``_probe_lists`` from a driver-side ``[(cid, vec), ...]`` list —
    the storage-backed path hands centroids straight from the index
    root without a DataFrame round-trip."""
    cent_lit = F.array(*[
        F.struct(F.lit(cid).alias("cid"),
                 F.expr("array({})".format(",".join(
                     f"{float(x)!r}D" for x in vec))).alias("cvec"),
                 F.lit(_py_norm(vec)).alias("cn"))
        for cid, vec in cent_rows])
    qn = _norm(F.col("__qv"))
    scored_cents = F.transform(
        cent_lit,
        lambda c: F.struct(
            F.round(_dot(F.col("__qv"), c["cvec"]) / (qn * c["cn"]),
                    sim_decimals).alias("sim"),
            c["cid"].alias("cid")))
    ordered = F.array_sort(
        scored_cents,
        lambda l, r: F.when(l["sim"] > r["sim"], -1)
        .when(l["sim"] < r["sim"], 1)
        .when(l["cid"] < r["cid"], -1)
        .when(l["cid"] > r["cid"], 1).otherwise(0))
    return qv.select(
        "query_id",
        F.explode(F.transform(
            F.slice(ordered, 1, nprobe), lambda s: s["cid"]))
        .alias("cluster"))


def ivf_topk_rounded(
    corpus: DataFrame,
    queries: DataFrame,
    k: int = 5,
    nlist: int = 16,
    nprobe: int = 4,
    coarse_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """IVF top-k on RAW vectors with the deterministic, cross-engine-
    reproducible coarse stage (the ``ivfpq_topk`` pipeline minus the PQ
    compression): md5-seeded decimal-exact k-means trains ``nlist``
    centroids, every corpus vector routes to its nearest list on ROUNDED
    cosine (ties to the lower centroid id), each query probes its
    ``nprobe`` nearest lists by the same rounded comparator, and only the
    probed lists' vectors are scored (cosine rounded to
    ``score_decimals``).

    Same output contract as ``ivf_topk`` (query_id, neighbor_id, sim);
    unlike ``ivf_topk``'s xxhash-seeded/unrounded path, every step here
    is replayable in ANSI SQL, so the approximate result itself is
    value-checkable against an oracle. Scale shape is identical: the
    probe join touches ~``nprobe/nlist`` of the corpus, the corpus never
    shuffles (assignment is a map-only literal fold), and the centroids
    live on the driver (nlist·dim doubles)."""
    cents = kmeans_fit(corpus, k=nlist, iters=coarse_iters, id_col=id_col,
                       vec_col=vec_col, sim_decimals=sim_decimals)
    vectors = corpus.select(
        F.col(id_col).alias("__vid"), _as_double(vec_col).alias("v"))
    # norms hoisted BELOW the joins: |Q| + |C| interpreted folds instead
    # of 3 folds per scored pair (the cosine_topk lesson); the hoisted
    # _norm is the identical expression, so the rounded sims — and the
    # SQL oracle parity — are unchanged
    assigned = _assign_rounded(vectors, cents, sim_decimals).select(
        F.col("__vid").alias("neighbor_id"), "v", "cluster",
    ).withColumn("__vn", _norm(F.col("v")))
    qv = queries.select(F.col(id_col).alias("query_id"),
                        _as_double(vec_col).alias("__qv"))
    probes = _probe_lists(qv, cents, nprobe, sim_decimals)
    scored = (
        assigned.join(F.broadcast(probes), "cluster")
        .join(F.broadcast(qv.withColumn("__qn", _norm(F.col("__qv")))),
              "query_id")
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("sim", F.round(_dot(F.col("__qv"), F.col("v"))
                                   / (F.col("__qn") * F.col("__vn")),
                                   score_decimals))
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("sim").desc(), F.col("neighbor_id"))
    return (
        scored.withColumn("__rk", F.row_number().over(w))
        .where(F.col("__rk") <= k)
        .select("query_id", "neighbor_id", "sim")
    )


def ivfpq_topk(
    corpus: DataFrame,
    queries: DataFrame,
    nlist: int = 8,
    nprobe: int = 2,
    m: int = 16,
    k: int = 16,
    coarse_iters: int = 1,
    pq_iters: int = 1,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """IVF-PQ composed index (Jégou 2011 §IVFADC, simplified: codebooks
    trained on raw vectors, not residuals — documented deviation):
    a deterministic coarse k-means routes every vector to one of
    ``nlist`` inverted lists; each query probes its ``nprobe`` nearest
    lists (rounded cosine, ties to the lower centroid id) and scores
    ONLY those lists' vectors through their ``m`` PQ codes by ADC.

    The 100 TB shape this buys: the scan prunes to ~nprobe/nlist of the
    corpus (list id is the partition key), and what it reads per vector
    is ``m`` small codes, not the float payload — coarse pruning ×
    compression, the standard big-ANN layout. Doubly approximate
    (list recall × code quantization), but every step is deterministic
    (md5 seeds, fixed-decimal rounding, first-occurrence ties), so a
    SQL oracle replays the identical computation and value-parity is
    exact. Returns (query_id, neighbor_id, score)."""
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import track

    cents = kmeans_fit(corpus, k=nlist, iters=coarse_iters,
                       id_col=id_col, vec_col=vec_col,
                       sim_decimals=sim_decimals)
    assigned = kmeans_assign(corpus, cents, id_col=id_col,
                             vec_col=vec_col, sim_decimals=sim_decimals)
    books = pq_train(corpus, m=m, k=k, iters=pq_iters,
                     id_col=id_col, vec_col=vec_col)
    codes = narrow_small(
        pq_encode(corpus, books, id_col=id_col, vec_col=vec_col)
        .join(assigned.select(F.col(id_col), "cluster"), id_col)).persist(
        StorageLevel.MEMORY_AND_DISK)

    cent_rows = getattr(cents, _KMEANS_CENTS_ATTR, None)
    if cent_rows is None:
        cent_rows = sorted((r["centroid_id"], list(r["cvec"]))
                           for r in cents.collect())
    out = ivfpq_topk_codes(codes, cent_rows, books, queries,
                           nprobe=nprobe, topk=topk, id_col=id_col,
                           vec_col=vec_col, score_decimals=score_decimals,
                           sim_decimals=sim_decimals)
    return track(out, codes)


def ivfpq_topk_codes(
    codes: DataFrame,
    cent_rows: list,
    books: list,
    queries: DataFrame,
    nprobe: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    sim_decimals: int = 6,
    static_prune: bool = False,
) -> DataFrame:
    """IVF-PQ search against an already-routed, already-encoded corpus
    (``codes``: id, codes, cluster) — the scoring half of ``ivfpq_topk``,
    shared with the storage-backed path (``read_ivfpq_index`` → search,
    where the cluster equi-join on the cluster-partitioned layout prunes
    at the directory level). ``cent_rows``: driver-side
    ``[(cid, vec), ...]`` sorted by cid.

    ``static_prune`` (the storage-backed default): collect the DISTINCT
    probed cluster ids first (≤ nlist values — bounded by the index
    geometry, not the query count) and filter the code scan with the
    literal set, so the cluster-partitioned layout prunes at PLANNING
    time — guaranteed directory skipping instead of relying on runtime
    dynamic partition pruning to fire. Costs one extra tiny job over the
    query side; the in-plan caller skips it (its codes aren't a
    partitioned source, there is nothing to prune)."""
    q = _pq_query_frame(queries, books, id_col, vec_col)
    qv = queries.select(F.col(id_col).alias("query_id"),
                        _as_double(vec_col).alias("__qv"))
    probes = _probe_lists_lit(qv, cent_rows, nprobe, sim_decimals)
    if static_prune:
        hit = [r["cluster"] for r in
               probes.select("cluster").distinct().collect()]
        codes = codes.where(F.col("cluster").isin(hit))

    num, rn2 = _adc_exprs(books)
    joined = (codes.join(F.broadcast(probes), "cluster")
              .join(F.broadcast(q), "query_id")
              .where(F.col(id_col) != F.col("query_id")))
    scored = joined.select(
        "query_id", F.col(id_col).alias("neighbor_id"),
        F.round(num / (F.col("__qn") * F.sqrt(rn2)),
                score_decimals).alias("score"))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= topk).drop("__rk"))


# --- persisted ANN indexes (IVF / PQ / IVF-PQ / SQ8): train + encode
# ONCE, search many. At scale, encoding is the dominant cost (m argmin
# folds per vector over the whole corpus) — recomputing it per query
# batch is what makes the in-plan pq_topk/ivfpq_topk a demo path.
#
# Commit protocol (the cube's): an index directory holds ONE root,
# ``_ann.json``, naming the kind, the frozen model (PQ codebooks, IVF-PQ
# coarse centroids and SQ8 params inline — driver-resident by the PQ
# contract; the IVF centroid table as a directory) and the live
# GRANULES: leaf partitions ``<table>/<parent>=<v>/__abatch=<token>.<wid>``
# of the ``vectors`` (IVF) or ``codes`` table, whose parent column —
# IVF bucket, IVF-PQ cluster, or the id-hash ``__gbucket`` of the flat
# families — lets probes and removals prune at the directory level.
# Every write (build, append, remove, compact) lands in FRESH leaves
# (``wid`` is new per write) that no root names; ``_publish`` then swaps
# the root by CAS and deletes exactly the directories the old root named
# and the new one does not. A crash at any step leaves the last
# committed root and everything it names intact: readers read only the
# named leaves, and unnamed leftovers are dead weight ``Engine.vacuum``
# sweeps. ``<token>`` is a granule's BATCH: ``base`` for the build, a
# content token per append (a retried or duplicated append of the same
# id set replaces its earlier copy instead of doubling rows that would
# occupy two top-k slots), ``c<wid>`` per compaction output; a removal
# rewrites each hit leaf under its own token, so removals add no batch.

_ROOT = "_ann.json"


def _default_fs(fs):
    if fs is not None:
        return fs
    from metrique_spark.fs import LocalFS

    return LocalFS()


def _vh(vec_col: str) -> Column:
    """64-bit content fingerprint of a vector (canonical array<double>
    form), stored per code row: lets a refresh diff an ENCODED index
    against the live corpus — no retained generation to time-travel to,
    no decode, one hash compare per id. xxhash64 is seed-fixed and
    deterministic across runs; a changed vector silently colliding with
    its old hash is a 2^-64 event."""
    return F.xxhash64(_as_double(vec_col))


def _gbucket(id_col: str, gbuckets: int) -> Column:
    """Removal-granularity partition key for the FLAT code layouts
    (pq/sq8): an id-hash bucket sub-partitioning each batch, so removing
    ids rewrites only the hit buckets instead of the whole batch (IVF
    and IVF-PQ get this from their bucket/cluster partitioning). Hash on
    the stringified id for type stability."""
    return F.pmod(F.xxhash64(F.col(id_col).cast("string")),
                  F.lit(gbuckets)).cast("int")


def _abatch_token(df: DataFrame, id_col: str) -> str:
    """Order-insensitive content token for an append batch (count + sum
    of per-id hashes — constant memory per task, same scheme as the
    engine's closed-batch token)."""
    r = df.agg(
        F.count("*").alias("n"),
        F.sum(F.xxhash64(F.col(id_col).cast("string"))
              .cast("decimal(38,0)")).alias("s")).first()
    return f"b{r['n']}x{r['s']}"


def _root_text(fs, path: str) -> str | None:
    """One GET of an index root; None when absent."""
    try:
        return fs.read_text(fs.join(path, _ROOT))
    except FileNotFoundError:
        return None


def _load_root(fs, path: str) -> tuple[str, dict] | None:
    """(text, root) of the committed index at ``path`` — one GET — or
    None when there is none. A root naming no granules was written
    before indexes committed by root (its data lives in directories it
    does not name): refuse with the rebuild instruction and leave that
    data in place."""
    import json

    raw = _root_text(fs, path)
    if raw is None:
        return None
    root = json.loads(raw)
    if "granules" not in root:
        raise ValueError(
            f"ANN index at {path!r} is in an older on-disk form (its "
            f"{_ROOT} names no granules) — rebuild it (build_vector_index "
            "or the family's write_*_index); its data is left in place")
    return raw, root


def _read_root(fs, path: str) -> tuple[str, dict]:
    """``_load_root`` that fails loud when there is no root: codes
    without their model are meaningless, and silently retraining would
    score against the wrong codewords."""
    got = _load_root(fs, path)
    if got is None:
        raise ValueError(
            f"no committed vector index at {path!r} ({_ROOT} missing — "
            "never built, a crashed first build, or an older on-disk "
            "form: rebuild it)")
    return got


def _meta(root: dict) -> dict:
    """The flat view ``read_pq_index`` returns: kind, id column, model."""
    return {"kind": root["kind"], "id_col": root["id_col"], **root["model"]}


def _parts(root: dict) -> list[str]:
    """Partition columns of the index table, outermost first."""
    parent = {"ivf": "bucket", "ivfpq": "cluster"}.get(root["kind"],
                                                       "__gbucket")
    return [parent, "__abatch"]


def _table(root: dict) -> str:
    return "vectors" if root["kind"] == "ivf" else "codes"


def _leaf(root: dict, row) -> str:
    """Granule relpath of a row carrying the partition columns."""
    return "/".join([_table(root)]
                    + [f"{c}={row[c]}" for c in _parts(root)])


def _token(leaf: str) -> str:
    """The batch token of a granule relpath."""
    return leaf.rsplit("__abatch=", 1)[1].rsplit(".", 1)[0]


def _batch_count(root: dict) -> int:
    """Append batches of an index — 1 when fully compacted, so the
    auto-compaction trigger converges instead of re-firing."""
    return len({_token(g) for g in root["granules"]})


def _named(root: dict) -> set[str]:
    """Directories a root names, relative to the index directory."""
    out = set(root.get("granules", ()))
    cdir = root.get("model", {}).get("centroid_dir")
    return out | {cdir} if cdir else out


def _frame(spark, path: str, root: dict, leaves=None) -> DataFrame:
    """Rows of the named granules (default: all) under the root's
    recorded schema — partition columns come from the leaf paths
    (``basePath``), no footer is sampled, and an empty granule set
    reads as zero rows."""
    from pyspark.sql.types import StructType

    schema = StructType.fromJson(root["schema"])
    leaves = sorted(root["granules"] if leaves is None else leaves)
    if not leaves:
        return spark.createDataFrame([], schema)
    return (spark.read.option("basePath", f"{path}/{_table(root)}")
            .schema(schema).parquet(*[f"{path}/{g}" for g in leaves]))


def _centroids(spark, path: str, root: dict, id_type=None) -> DataFrame:
    """An IVF index's frozen ``(centroid_id, cvec)`` table, read under
    its known schema — no footer is sampled. ``centroid_id`` has the id
    column's type: the root's recorded one, or ``id_type`` for the
    build that wrote the table before its root had a schema."""
    from pyspark.sql.types import (ArrayType, DoubleType, StructField,
                                   StructType)

    if id_type is None:
        id_type = StructType.fromJson(root["schema"])[
            root["id_col"]].dataType
    schema = StructType([StructField("centroid_id", id_type),
                         StructField("cvec", ArrayType(DoubleType()))])
    return spark.read.schema(schema).parquet(
        f"{path}/{root['model']['centroid_dir']}")


def _centroid_rows(spark, path: str, root: dict) -> list:
    """The frozen coarse centroids as a sorted ``[(cid, vec)]`` list."""
    if root["kind"] == "ivfpq":
        return [(c[0], list(c[1])) for c in root["model"]["centroids"]]
    return sorted((r["centroid_id"], list(r["cvec"]))
                  for r in _centroids(spark, path, root).collect())


def _new_wid() -> str:
    import uuid

    return uuid.uuid4().hex[:12]


def _write_granules(df: DataFrame, path: str, root: dict) -> list[str]:
    """Write ``df`` — each row's batch token in its ``__abatch`` column
    — into fresh leaves and return their relpaths. This write's own
    ``wid`` suffixes every leaf name, so the append-mode write only ever
    creates directories: never one a root names, nor one a crashed
    attempt left behind (and no ``_SUCCESS`` marker above them). The
    written leaves are then found by one glob on that ``wid`` through
    the Hadoop FileSystem that wrote them — a directory listing, not a
    second pass over the rows."""
    import re

    spark, table, wid = df.sparkSession, _table(root), _new_wid()
    (df.withColumn("__abatch", F.concat(F.col("__abatch"), F.lit("." + wid)))
     .write.partitionBy(*_parts(root)).mode("append")
     .option("mapreduce.fileoutputcommitter.marksuccessfuljobs", "false")
     .parquet(f"{path}/{table}"))
    # the index path is literal: escape the glob metacharacters in it
    lit = re.sub(r"([\\{}\[\]*?])", r"\\\1", f"{path}/{table}")
    pat = spark._jvm.org.apache.hadoop.fs.Path(
        f"{lit}/*/__abatch=*.{wid}")
    found = pat.getFileSystem(
        spark._jsc.hadoopConfiguration()).globStatus(pat) or []
    return sorted(f"{table}/{st.getPath().getParent().getName()}/"
                  f"{st.getPath().getName()}" for st in found)


def _publish(fs, path: str, old_raw: str | None, root: dict) -> None:
    """THE commit point of every index write: ``fs.publish`` swaps the
    root and deletes what the old root named and the new one does not.
    Directories a crashed writer stranded are ``Engine.vacuum``'s."""
    import json

    from metrique_spark.fs import publish

    publish(fs, path, _ROOT, json.dumps(root), old_raw,
            _named(json.loads(old_raw)) - _named(root) if old_raw else ())


def _vacuum(fs, path: str) -> None:
    """Listing sweep of one index directory: a directory without a root
    is a crashed first build and goes whole; otherwise every entry the
    root does not name goes (crashed writers' fresh leaves and Spark
    ``_temporary`` dirs). An older-form index keeps its data until
    rebuilt."""
    from metrique_spark.fs import vacuum

    try:
        got = _load_root(fs, path)
    except ValueError:
        return
    if got is None:
        fs.delete_dir(path)
    else:
        vacuum(fs, path, _named(got[1]) | {_ROOT})


def _train_ivf(df, path, id_col, vec_col, nlist=16, train_iters=0):
    cdir = f"centroids-{_new_wid()}"
    _ivf_centroids(df, nlist, id_col, vec_col, train_iters).write.parquet(
        f"{path}/{cdir}")
    return {"centroid_dir": cdir}


def _train_pq(df, path, id_col, vec_col, m=8, k=16, iters=1,
              gbuckets=16):
    books = pq_train(df, m=m, k=k, iters=iters, id_col=id_col,
                     vec_col=vec_col)
    return {"m": m, "k": k, "iters": iters, "sub_len": len(books[0][0]),
            "books": books, "gbuckets": gbuckets}


def _train_ivfpq(df, path, id_col, vec_col, nlist=8, m=16, k=16,
                 coarse_iters=1, pq_iters=1, sim_decimals=6):
    cents = kmeans_fit(df, k=nlist, iters=coarse_iters, id_col=id_col,
                       vec_col=vec_col, sim_decimals=sim_decimals)
    books = pq_train(df, m=m, k=k, iters=pq_iters, id_col=id_col,
                     vec_col=vec_col)
    return {"m": m, "k": k, "iters": pq_iters, "nlist": nlist,
            "coarse_iters": coarse_iters, "sim_decimals": sim_decimals,
            "sub_len": len(books[0][0]), "books": books,
            "centroids": [[cid, vec] for cid, vec in
                          getattr(cents, _KMEANS_CENTS_ATTR)]}


def _train_sq8(df, path, id_col, vec_col, gbuckets=16):
    return {"params": [[mn, mx] for mn, mx in sq8_train(df, vec_col)],
            "gbuckets": gbuckets}


_TRAIN = {"ivf": _train_ivf, "pq": _train_pq, "ivfpq": _train_ivfpq,
          "sq8": _train_sq8}


def _encode(batch: DataFrame, path: str, root: dict,
            vec_col: str) -> DataFrame:
    """``batch`` in the index's row form, against the root's FROZEN
    model: IVF rows carry the raw vector and its bucket; the PQ
    families carry the codes, the vector fingerprint (``__vh``) and the
    cluster / ``__gbucket`` parent. Build and append both encode here,
    so an appended row is exactly what a rebuild under the same model
    would store."""
    id_col, kind, model = root["id_col"], root["kind"], root["model"]
    vecs = batch.select(F.col(id_col).alias("__vid"),
                        _as_double(vec_col).alias("v"))
    if kind == "ivf":
        cents = _centroids(batch.sparkSession, path, root,
                           None if "schema" in root
                           else batch.schema[id_col].dataType)
        return (_nearest_buckets(vecs, cents, "v", 1)
                .select(F.col("__vid").alias(id_col), "v",
                        F.col("centroid_id").alias("bucket")))
    if kind == "sq8":
        rows = sq8_encode(batch, [tuple(p) for p in model["params"]],
                          id_col=id_col, vec_col=vec_col)
    else:
        rows = pq_encode(batch, model["books"], id_col=id_col,
                         vec_col=vec_col)
    rows = rows.join(
        batch.select(F.col(id_col), _vh(vec_col).alias("__vh")), id_col)
    if kind == "ivfpq":
        cl = _assign_lit(vecs, _centroid_rows(None, path, root),
                         model["sim_decimals"])
        return rows.join(cl.select(F.col("__vid").alias(id_col),
                                   "cluster"), id_col)
    return rows.withColumn("__gbucket", _gbucket(id_col, model["gbuckets"]))


def _check_gbuckets(params: dict) -> None:
    """``gbuckets`` (see ``_gbucket``) must be an int >= 1 — checked
    before any training job, since 0 would only fail the encode job on
    a modulo by zero."""
    g = params.get("gbuckets", 1)
    if isinstance(g, bool) or not isinstance(g, int) or g < 1:
        raise ValueError(f"gbuckets must be an int >= 1, got {g!r}")


def _stage_build(df: DataFrame, path: str, kind: str, id_col: str,
                 vec_col: str, **params) -> dict:
    """Train the family's model on ``df`` and write the encoded corpus
    as the ``base`` batch — fresh directories only. Returns the new
    root for ``_publish``; ``params`` are the family's knobs
    (nlist/m/k/iters/...)."""
    from pyspark.sql.types import StructType

    _check_gbuckets(params)
    root = {"kind": kind, "id_col": id_col,
            "model": _TRAIN[kind](df, path, id_col, vec_col, **params)}
    rows = _encode(df, path, root, vec_col).withColumn("__abatch",
                                                       F.lit("base"))
    parts = _parts(root)
    root["schema"] = StructType(
        [f for f in rows.schema.fields if f.name not in parts]
        + [rows.schema[c] for c in parts]).jsonValue()
    root["granules"] = _write_granules(rows, path, root)
    return root


def _write_index(df: DataFrame, path: str, fs, kind: str, id_col: str,
                 vec_col: str, **params) -> dict:
    """Build-and-publish behind the standalone ``write_*_index``
    writers: a rebuild over a committed index swaps the root, so
    readers see the old index or the new one, never neither."""
    fs = _default_fs(fs)
    old = _root_text(fs, path)
    root = _stage_build(df, path, kind, id_col, vec_col, **params)
    _publish(fs, path, old, root)
    return root


def _stage_append(batch: DataFrame, path: str, root: dict,
                  vec_col: str) -> dict:
    """Root with ``batch`` encoded against the frozen model and written
    as one fresh batch, replacing any batch of the same content token.
    Cost is O(batch) encoding — the existing corpus is never re-read or
    re-encoded."""
    if root["kind"] != "ivf":
        model = root["model"]
        dim = (len(model["params"]) if root["kind"] == "sq8"
               else len(model["books"]) * model["sub_len"])
        first = batch.select(_as_double(vec_col).alias("v")).first()
        if first is not None and len(first["v"]) != dim:
            raise ValueError(
                f"append: batch vectors have dim {len(first['v'])}, "
                f"index was trained at dim {dim}")
    token = _abatch_token(batch, root["id_col"])
    leaves = _write_granules(
        _encode(batch, path, root, vec_col).withColumn("__abatch",
                                                       F.lit(token)),
        path, root)
    return {**root, "granules": sorted(
        [g for g in root["granules"] if _token(g) != token] + leaves)}


def _stage_remove(spark, path: str, root: dict, ids: DataFrame) -> dict:
    """Root with ``ids`` (first column) removed: each granule holding
    one is rewritten without it into a fresh leaf under its own batch
    token — codes copied, never re-encoded — and a granule left empty
    drops out. Granules the ids never touched are neither read nor
    written. Removal-by-rewrite instead of read-side tombstones is
    deliberate: a tombstone anti-join taxes EVERY future probe while
    removals are rare — pay the write amplification once, keep the
    probe path untouched."""
    id_col = root["id_col"]
    rid = ids.select(F.col(ids.columns[0]).alias("__rid")).distinct()
    rows = _frame(spark, path, root)
    hit = {_leaf(root, r) for r in
           rows.join(rid, rows[id_col] == F.col("__rid"), "left_semi")
           .select(*_parts(root)).distinct().collect()}
    if not hit:
        return root
    src = _frame(spark, path, root, hit)
    keep = (src.join(rid, src[id_col] == F.col("__rid"), "left_anti")
            .withColumn("__abatch", F.substring_index("__abatch", ".", 1)))
    return {**root, "granules": sorted(
        set(root["granules"]) - hit
        | set(_write_granules(keep, path, root)))}


def _stage_compact(spark, fs, path: str, root: dict,
                   small_bytes: int | None) -> tuple[dict, int]:
    """(root, granules merged away) after consolidating batches: each
    merge group is rewritten as ONE fresh batch per parent directory
    (ids deduplicated within the group, codes copied, never re-encoded).
    ``small_bytes`` makes the pass SIZE-TIERED (``tier_groups`` over the
    batches' bytes): larger levels stay untouched on disk, so routine
    compaction costs O(recent appends), never O(|index|);
    ``small_bytes=None`` merges every batch — the FULL consolidation."""
    from metrique_spark.compaction import tier_groups

    by_tok: dict[str, list[str]] = {}
    for g in root["granules"]:
        by_tok.setdefault(_token(g), []).append(g)
    if small_bytes is None:
        groups = [set(by_tok)] if len(by_tok) > 1 else []
    else:
        groups = tier_groups(
            {t: sum(fs.du(fs.join(path, g)) for g in gs)
             for t, gs in by_tok.items()}, small_bytes)
    granules, removed = set(root["granules"]), 0
    for merge in groups:
        leaves = [g for t in sorted(merge) for g in by_tok[t]]
        merged = (_frame(spark, path, root, leaves)
                  .dropDuplicates([root["id_col"]])
                  .repartition(_parts(root)[0])
                  .withColumn("__abatch", F.lit("c" + _new_wid())))
        granules = (granules - set(leaves)
                    | set(_write_granules(merged, path, root)))
        removed += len(leaves)
    return {**root, "granules": sorted(granules)}, removed


def _index_drift(frame: DataFrame, path: str, root: dict,
                 vec_col: str) -> tuple[str, float | None]:
    """``drift_stat`` of ``frame`` against the root's frozen model."""
    kind, model = root["kind"], root["model"]
    if kind in ("ivf", "ivfpq"):
        return drift_stat(frame, kind, vec_col,
                          centroids=_centroid_rows(frame.sparkSession,
                                                   path, root),
                          decimals=model.get("sim_decimals", 6))
    if kind == "sq8":
        return drift_stat(frame, "sq8", vec_col,
                          params=[tuple(p) for p in model["params"]])
    return drift_stat(frame, "pq", vec_col, books=model["books"])


def _topk(spark, path: str, root: dict, queries: DataFrame, k: int,
          nprobe: int | None, vec_col: str, score_decimals: int = 4,
          max_query_rows: int | None = 10_000) -> DataFrame:
    """Top-k over the granules ONE root names, dispatched on its kind."""
    kind, meta = root["kind"], _meta(root)
    rows = _frame(spark, path, root)
    if kind == "ivf":
        return ivf_topk_indexed(
            rows, _centroids(spark, path, root),
            queries, k=k, nprobe=4 if nprobe is None else nprobe,
            id_col=meta["id_col"], vec_col=vec_col)
    if kind == "pq":
        return pq_topk_codes(rows, meta["books"], queries, k=k,
                             id_col=meta["id_col"], vec_col=vec_col,
                             score_decimals=score_decimals)
    if kind == "ivfpq":
        return ivfpq_topk_codes(
            rows, _centroid_rows(spark, path, root), meta["books"],
            queries, nprobe=2 if nprobe is None else nprobe, topk=k,
            id_col=meta["id_col"], vec_col=vec_col,
            score_decimals=score_decimals,
            sim_decimals=meta["sim_decimals"], static_prune=True)
    return sq8_topk_codes(rows, [tuple(p) for p in meta["params"]],
                          queries, k=k, id_col=meta["id_col"],
                          vec_col=vec_col, score_decimals=score_decimals,
                          max_query_rows=max_query_rows)


def write_pq_index(
    df: DataFrame,
    path: str,
    m: int = 8,
    k: int = 16,
    iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
    gbuckets: int = 16,
) -> list:
    """Train PQ codebooks on ``df`` and persist the index: codes to
    ``path/codes`` (parquet), codebooks + params in the ``_ann.json``
    root. Returns the trained codebooks. Flat-PQ search reads every
    code (compression, not pruning) — for a pruned stored layout use
    ``write_ivfpq_index``.

    A per-row vector fingerprint (``__vh``, see ``_vh``) is stored
    alongside the codes, enabling retention-free incremental refresh;
    search paths ignore the column. ``gbuckets`` sub-partitions each
    batch by id hash (see ``_gbucket``) so removals rewrite only hit
    buckets — ~1/gbuckets of the codes per removed-id bucket."""
    return _write_index(df, path, fs, "pq", id_col, vec_col, m=m, k=k,
                        iters=iters, gbuckets=gbuckets)["model"]["books"]


def read_pq_index(spark, path: str, fs=None) -> tuple[DataFrame, dict]:
    """(codes, meta) back from ``write_pq_index``/``write_ivfpq_index``/
    ``write_sq8_index`` output: the granules the root names, and the
    flat model view (kind, id column, codebooks — JSON floats
    round-trip doubles exactly — and, for IVF-PQ, the coarse centroids;
    for SQ8 the params). Fails loud on a missing or older-form root."""
    _, root = _read_root(_default_fs(fs), path)
    return _frame(spark, path, root), _meta(root)


def append_to_pq_index(
    batch: DataFrame,
    path: str,
    vec_col: str = "embedding",
    fs=None,
) -> None:
    """Extend a stored index of any kind with a new batch: encode
    against the STORED model (frozen — code semantics never shift under
    readers) and commit it as one new batch. Idempotent: a retried or
    duplicated append of the same id set REPLACES its earlier copy
    instead of doubling rows (duplicate ids would otherwise occupy two
    top-k slots). Cost is O(batch) — the existing corpus is never
    re-read or re-encoded. A model drifting from the data distribution
    degrades recall, not correctness; re-run the writer when it does."""
    fs = _default_fs(fs)
    raw, root = _read_root(fs, path)
    _publish(fs, path, raw, _stage_append(batch, path, root, vec_col))


def remove_from_pq_index(
    spark,
    path: str,
    ids: DataFrame,
    fs=None,
) -> None:
    """Physically remove ids (``ids``' first column) from a stored index
    of any kind at granule granularity — only the ``(parent, batch)``
    leaves holding a removed id are rewritten (see ``_stage_remove``);
    the affected-leaf collect is bounded by parents × batches."""
    fs = _default_fs(fs)
    raw, root = _read_root(fs, path)
    new = _stage_remove(spark, path, root, ids)
    if new is not root:
        _publish(fs, path, raw, new)


def compact_pq_index(spark, path: str, fs=None,
                     small_bytes: int | None = None) -> int:
    """Consolidate a stored index's append batches (any kind): every
    append/refresh adds one batch per hit parent directory, so an index
    refreshed nightly for a year accumulates hundreds of granules whose
    listing cost and tiny files degrade every probe. See
    ``_stage_compact`` for the tiered (``small_bytes``) and full
    (``None``, the default here) policies. Returns the number of granule
    directories merged away; 0 when nothing qualifies."""
    fs = _default_fs(fs)
    raw, root = _read_root(fs, path)
    new, removed = _stage_compact(spark, fs, path, root, small_bytes)
    if removed:
        _publish(fs, path, raw, new)
    return removed


def drift_stat(
    frame: DataFrame,
    kind: str,
    vec_col: str = "embedding",
    centroids: list | None = None,
    books: list | None = None,
    params: list | None = None,
    decimals: int = 6,
) -> tuple[str, float | None]:
    """One scalar distribution-fit statistic of ``frame``'s vectors
    against a FROZEN index model — the drift signal behind
    ``Engine.refresh_vector_index``'s ``rebuild_recommended`` flag.
    Incremental refresh deliberately never retrains (correctness is
    exact; only RECALL drifts as the data distribution shifts), so the
    decay must be measured, not guessed: compare this statistic over an
    appended delta against the build-time baseline recorded in the
    index root.

    Per family (higher-is-better vs lower-is-better noted):

    - ``centroid_sim`` (ivf / ivfpq coarse level): mean rounded cosine
      similarity of each vector to its nearest frozen centroid — the
      quantity IVF probing relies on; drops as new data lands between
      the trained cells. Map-only literal-fold assignment
      (``_assign_lit``), no shuffle beyond one scalar aggregate.
    - ``pq_err`` (flat PQ): mean total rounded squared-L2 quantization
      error (sum over subspaces of the argmin codeword distance) —
      exactly the quantity ADC scoring inherits; grows as vectors leave
      the trained codeword cloud.
    - ``clip_frac`` (sq8): mean fraction of dimensions falling outside
      the trained per-dimension [min, max] — clipped dims all quantize
      to the range edge, so recall collapses as this grows; 0 by
      construction at build time.

    All three are single map-only passes + one scalar aggregate — cost
    O(|frame|) with no shuffle of the vectors. Returns
    ``(metric_name, value)``; value is None for an empty frame."""
    if kind in ("ivf", "ivfpq"):
        if not centroids:
            raise ValueError("drift_stat: centroid kinds need centroids")
        vs = frame.select(F.lit(0).alias("__vid"),
                          _as_double(vec_col).alias("v"))
        assigned = _assign_lit(vs, sorted(centroids), decimals)
        row = assigned.agg(F.avg("sim").alias("m")).first()
        return "centroid_sim", (None if row["m"] is None
                                else float(row["m"]))
    if kind == "pq":
        if not books:
            raise ValueError("drift_stat: pq needs books")
        m, sub_len = len(books), len(books[0][0])
        v = _as_double(vec_col)
        sliced = frame.select(
            *[F.slice(v, j * sub_len + 1, sub_len).alias(f"__s{j}")
              for j in range(m)])
        errs = sliced.select(
            *[F.array_min(_l2_d2s(F.col(f"__s{j}"), books[j], decimals))
              .alias(f"__e{j}") for j in range(m)])
        total = errs.select(
            sum((F.col(f"__e{j}") for j in range(1, m)),
                F.col("__e0")).alias("__err"))
        row = total.agg(F.avg("__err").alias("m")).first()
        return "pq_err", None if row["m"] is None else float(row["m"])
    if kind == "sq8":
        if not params:
            raise ValueError("drift_stat: sq8 needs params")
        dim = len(params)
        vv = frame.select(_as_double(vec_col).alias("__v"))
        out = sum(
            (((F.col("__v")[i] < F.lit(float(mn)))
              | (F.col("__v")[i] > F.lit(float(mx)))).cast("int")
             for i, (mn, mx) in enumerate(params)),
            F.lit(0))
        row = (vv.select((out / F.lit(float(dim))).alias("__c"))
               .agg(F.avg("__c").alias("m")).first())
        return "clip_frac", None if row["m"] is None else float(row["m"])
    raise ValueError(f"drift_stat: unknown kind {kind!r}")


def pq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    score_decimals: int = 4,
    fs=None,
) -> DataFrame:
    """Top-k against a stored flat-PQ index: read codes + codebooks,
    ADC-score. The probe pays only the code scan — no training, no
    encoding."""
    _, root = _read_root(_default_fs(fs), path)
    if root["kind"] != "pq":
        raise ValueError(
            f"index at {path!r} is kind {root['kind']!r}, not a flat PQ "
            "index — probe it with its own family's search function "
            "(sq8_topk_indexed / ivfpq_topk_indexed)")
    return _topk(spark, path, root, queries, k, None, vec_col,
                 score_decimals)


def write_ivfpq_index(
    df: DataFrame,
    path: str,
    nlist: int = 8,
    m: int = 16,
    k: int = 16,
    coarse_iters: int = 1,
    pq_iters: int = 1,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sim_decimals: int = 6,
    fs=None,
) -> None:
    """Persist the composed IVF-PQ layout: deterministic coarse k-means
    routes every vector to an inverted list, codes land in parquet
    PARTITIONED BY cluster (a probe's equi-join prunes to the probed
    directories — the scan cost rides nprobe/nlist), coarse centroids +
    PQ codebooks go to the ``_ann.json`` root."""
    _write_index(df, path, fs, "ivfpq", id_col, vec_col, nlist=nlist,
                 m=m, k=k, coarse_iters=coarse_iters, pq_iters=pq_iters,
                 sim_decimals=sim_decimals)


def ivfpq_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    nprobe: int = 2,
    topk: int = 5,
    vec_col: str = "embedding",
    score_decimals: int = 4,
    fs=None,
) -> DataFrame:
    """Top-k against a stored IVF-PQ index: probes select clusters, the
    cluster-partitioned code scan prunes to those directories, ADC
    scores the codes. Probe-many cost: nprobe/nlist of the code scan —
    training and encoding were paid once at write time."""
    _, root = _read_root(_default_fs(fs), path)
    if root["kind"] != "ivfpq":
        probe = {"pq": "pq_topk_indexed", "sq8": "sq8_topk_indexed"}.get(
            root["kind"], "its own family's probe")
        raise ValueError(
            f"index at {path!r} is kind {root['kind']!r}, not ivfpq — "
            f"probe it with {probe}, or rebuild with write_ivfpq_index")
    return _topk(spark, path, root, queries, topk, nprobe, vec_col,
                 score_decimals)


# --- scalar quantization (SQ8): the third standard compression scheme
# in the big-ANN toolbox (public technique — e.g. FAISS's SQ8): each
# dimension affinely quantized to an 8-bit code against the corpus's
# per-dimension [min, max]. 8x smaller scan payload than float64 with
# near-exact recall at moderate dimensionality — the cheap middle
# ground between exact cosine (full payload) and PQ (m codes, lossier).
# Deterministic end-to-end (exact per-dim min/max, fixed rounding,
# identical IEEE expression order both engines), so the SQL oracle
# value-replays train + encode + reconstruction + scoring.


def sq8_train(
    df: DataFrame,
    vec_col: str = "embedding",
) -> list:
    """Per-dimension quantization params from the corpus: returns the
    raw ``[(mn, mx), ...]`` extrema (the derived span/denominator are
    computed from them in ONE place so the SQL oracle's arithmetic
    chain is bit-identical). ONE map-side-combinable (dim) shuffle whose
    result is ``dim`` rows collected to the driver — the corpus never
    shuffles and the params are literal-sized by construction."""
    dims = (df.select(F.posexplode(_as_double(vec_col))
                      .alias("dim", "x"))
            .groupBy("dim")
            .agg(F.min("x").alias("mn"), F.max("x").alias("mx"))
            .collect())
    out = [None] * len(dims)
    for r in dims:
        out[r["dim"]] = (float(r["mn"]), float(r["mx"]))
    return out


def _sq8_params_lit(params: list) -> Column:
    """The per-dim (mn, span, denominator) params as ONE parsed SQL
    literal (repr round-trips doubles exactly; a nested F.lit build
    would be py4j-bound — the codebook-literal lesson). ``dn = mx - mn``
    and ``sp = (mx - mn) / 255`` are evaluated HERE in Python doubles —
    the exact IEEE chain the oracle's SQL expressions replay."""
    return F.expr("array({})".format(",".join(
        f"named_struct('mn',{mn!r}D,'sp',{(mx - mn) / 255.0!r}D,"
        f"'dn',{mx - mn!r}D)"
        for mn, mx in params)))


def _sq8_rec_frame(codes: DataFrame, params: list, id_col: str,
                   keep: tuple = ()) -> DataFrame:
    """(neighbor_id, __rec, __rn2[, keep...]) — reconstruction and its
    norm materialized ONCE per corpus row (below whatever join scores
    them). SHARED by the flat and IVF-routed scorers: the expression
    chain here is what the DuckDB oracles' ``rec`` CTE replays, so both
    families stay IEEE-identical by construction."""
    p = _sq8_params_lit(params)
    rec = F.zip_with(F.col("codes"), p,
                     lambda c, pp: pp["mn"]
                     + c.cast("double") * pp["sp"])
    out = codes.select(
        F.col(id_col).alias("neighbor_id"), rec.alias("__rec"), *keep)
    return out.withColumn("__rn2", _dot(F.col("__rec"), F.col("__rec")))


def _sq8_score_topk(joined: DataFrame, topk: int,
                    score_decimals: int) -> DataFrame:
    """Rounded-cosine scoring + top-k over a frame carrying
    (query_id, neighbor_id, __qv, __qn, __rec, __rn2) — the shared tail
    of every SQ8 scorer."""
    from pyspark.sql import Window

    scored = (joined.where(F.col("neighbor_id") != F.col("query_id"))
              .select("query_id", "neighbor_id",
                      F.round(_dot(F.col("__qv"), F.col("__rec"))
                              / (F.col("__qn") * F.sqrt(F.col("__rn2"))),
                              score_decimals).alias("score")))
    w = Window.partitionBy("query_id").orderBy(
        F.col("score").desc(), F.col("neighbor_id"))
    return (scored.withColumn("__rk", F.row_number().over(w))
            .where(F.col("__rk") <= topk).drop("__rk"))


def sq8_encode(
    df: DataFrame,
    params: list,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """(id, codes array<int>): each dimension quantized to
    ``round((x - mn) * 255 / (mx - mn))`` (0 for constant dims) — map-
    only, params as a literal. The expression order is pinned: the SQL
    oracle must evaluate the identical IEEE chain for code parity."""
    p = _sq8_params_lit(params)
    v = _as_double(vec_col)
    codes = F.zip_with(
        v, p,
        lambda x, pp: F.when(pp["dn"] == 0.0, F.lit(0))
        .otherwise(F.round((x - pp["mn"]) * 255.0 / pp["dn"], 0)
                   .cast("int")))
    from metrique_spark.functions.dedup import spread_small_scan

    return spread_small_scan(df.select(F.col(id_col),
                                       codes.alias("codes")))


def write_sq8_index(
    df: DataFrame,
    path: str,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    fs=None,
    gbuckets: int = 16,
) -> list:
    """Persist an SQ8 index: codes to ``path/codes`` (8x smaller scan
    payload than the float corpus), per-dim params in the ``_ann.json``
    root (kind ``sq8``). Returns the trained params. Encode once, probe
    many — the probe pays only the code scan + reconstruction folds."""
    root = _write_index(df, path, fs, "sq8", id_col, vec_col,
                        gbuckets=gbuckets)
    return [tuple(p) for p in root["model"]["params"]]


def sq8_topk_indexed(
    spark,
    path: str,
    queries: DataFrame,
    k: int = 5,
    vec_col: str = "embedding",
    score_decimals: int = 4,
    max_query_rows: int | None = 10_000,
    fs=None,
) -> DataFrame:
    """Top-k against a stored SQ8 index (kind-checked)."""
    _, root = _read_root(_default_fs(fs), path)
    if root["kind"] != "sq8":
        raise ValueError(
            f"index at {path!r} is kind {root['kind']!r}, not sq8 — "
            "probe it with its own family's search function")
    return _topk(spark, path, root, queries, k, None, vec_col,
                 score_decimals, max_query_rows)


def ivfsq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    nlist: int = 8,
    nprobe: int = 2,
    coarse_iters: int = 1,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    sim_decimals: int = 6,
) -> DataFrame:
    """Composed IVF × SQ8 index (the FAISS "IVF,SQ8" layout): the
    deterministic coarse k-means routes vectors to ``nlist`` inverted
    lists, each query probes its ``nprobe`` nearest lists, and only
    those lists' vectors are scored — through their 8-bit scalar codes.
    Coarse pruning × cheap compression: versus IVF-PQ this trades a
    larger code payload (dim bytes vs m) for near-exact per-list recall
    and no codebook training. Deterministic end-to-end; the SQL oracle
    replays coarse training, routing, probe selection, quantization and
    reconstruction exactly."""
    from pyspark import StorageLevel

    from metrique_spark.functions.cache import track

    cents = kmeans_fit(corpus, k=nlist, iters=coarse_iters,
                       id_col=id_col, vec_col=vec_col,
                       sim_decimals=sim_decimals)
    assigned = kmeans_assign(corpus, cents, id_col=id_col,
                             vec_col=vec_col, sim_decimals=sim_decimals)
    params = sq8_train(corpus, vec_col=vec_col)
    # persist the routed codes (the ivfpq_topk contract): encode-once/
    # probe-many — repeat probes must pay the quantization + routing
    # once, not per action. Caller releases via functions.cache.release.
    codes = narrow_small(
        sq8_encode(corpus, params, id_col=id_col, vec_col=vec_col)
        .join(assigned.select(F.col(id_col), "cluster"), id_col)).persist(
        StorageLevel.MEMORY_AND_DISK)
    cent_rows = getattr(cents, _KMEANS_CENTS_ATTR, None)
    if cent_rows is None:
        cent_rows = sorted((r["centroid_id"], list(r["cvec"]))
                           for r in cents.collect())
    out = ivfsq8_topk_codes(codes, cent_rows, params, queries,
                            nprobe=nprobe, topk=topk, id_col=id_col,
                            vec_col=vec_col,
                            score_decimals=score_decimals,
                            sim_decimals=sim_decimals)
    return track(out, codes)


def ivfsq8_topk_codes(
    codes: DataFrame,
    cent_rows: list,
    params: list,
    queries: DataFrame,
    nprobe: int = 2,
    topk: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    sim_decimals: int = 6,
    static_prune: bool = False,
) -> DataFrame:
    """IVF×SQ8 search over an already-routed, already-quantized corpus
    (``codes``: id, codes, cluster) — reconstruction and its norm are
    materialized BELOW the probe join (query-independent), queries
    broadcast with their norms; ``static_prune`` as in
    ``ivfpq_topk_codes``."""
    from pyspark.sql import Window

    qv = queries.select(F.col(id_col).alias("query_id"),
                        _as_double(vec_col).alias("__qv"))
    probes = _probe_lists_lit(qv, cent_rows, nprobe, sim_decimals)
    if static_prune:
        hit = [r["cluster"] for r in
               probes.select("cluster").distinct().collect()]
        codes = codes.where(F.col("cluster").isin(hit))
    recs = _sq8_rec_frame(codes, params, id_col, keep=("cluster",))
    q = qv.withColumn("__qn", _norm(F.col("__qv")))
    joined = (recs.join(F.broadcast(probes), "cluster")
              .join(F.broadcast(q), "query_id"))
    return _sq8_score_topk(joined, topk, score_decimals)


def sq8_topk(
    corpus: DataFrame,
    queries: DataFrame,
    params: list | None = None,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    max_query_rows: int | None = 10_000,
) -> DataFrame:
    """Approximate cosine top-k over 8-bit scalar-quantized vectors:
    codes are reconstructed on the fly (``mn + code·span``) BELOW the
    query join, so the reconstruction and its norm cost |corpus| folds,
    not |corpus|·|queries| — per (query, vector) pair only the dot fold
    runs. Same contract as ``cosine_topk``/``pq_topk``
    (query_id, neighbor_id, score), self-matches excluded, ties to the
    lower neighbor id. Like ``pq_topk`` this is compression without
    pruning (``max_query_rows`` guards the flat scan); compose with IVF
    routing for a pruned layout."""
    if params is None:
        params = sq8_train(corpus, vec_col=vec_col)
    codes = sq8_encode(corpus, params, id_col=id_col, vec_col=vec_col)
    return sq8_topk_codes(codes, params, queries, k=k, id_col=id_col,
                          vec_col=vec_col, score_decimals=score_decimals,
                          max_query_rows=max_query_rows)


def sq8_topk_codes(
    codes: DataFrame,
    params: list,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    score_decimals: int = 4,
    max_query_rows: int | None = 10_000,
) -> DataFrame:
    """The scoring half of ``sq8_topk`` over an already-encoded corpus —
    shared with the storage-backed ``sq8_topk_indexed``."""
    if max_query_rows is not None:
        nq = queries.limit(max_query_rows + 1).count()
        if nq > max_query_rows:
            raise ValueError(
                f"sq8_topk: query side exceeds {max_query_rows} rows — "
                "the flat scan is |corpus|x|queries|; route through an "
                "IVF layout, or pass max_query_rows=None to force")
    # __rec and its norm materialize BELOW the join (query-independent;
    # a projection under the join is physically written into the
    # streamed row), query norms once on the broadcast side — so the
    # per-pair work is one dot fold
    recs = _sq8_rec_frame(codes, params, id_col)
    q = queries.select(F.col(id_col).alias("query_id"),
                       _as_double(vec_col).alias("__qv"))
    q = q.withColumn("__qn", _norm(F.col("__qv")))
    return _sq8_score_topk(recs.crossJoin(F.broadcast(q)), k,
                           score_decimals)
