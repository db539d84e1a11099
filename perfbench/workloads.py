"""The benchmark workloads: seeded, closed-loop, one client.

A workload builds its initial state (``build``, timed as set-up), then
hands the runner ``decks``: short fixed-composition lists of steps. The
runner executes decks until the run's time is spent, times every step,
and checks each step's result against the seeded model in
``models.py``. A step that raises or returns a wrong result is a failure.

Only public API is called: ``objects.stamp``, ``Engine.upsert / find /
count / compact / describe``, ``temporal.*``, ``functions.text`` and
``functions.dedup``. Layer spans (``tracer.span``) wrap each call; they
cost nothing when the step is not traced.
"""

from __future__ import annotations

import os
from dataclasses import dataclass
from typing import Callable

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

import models
from metrique_spark import temporal
from metrique_spark.engine import Engine
from metrique_spark.fs import LocalFS
from metrique_spark.functions import dedup as fdedup
from metrique_spark.functions import text as ftext
from metrique_spark.functions.cache import release
from metrique_spark.mql import compile_mql, oid_literal_set
from metrique_spark.objects import stamp
from tracing import CountingFS, Tracer


@dataclass
class Step:
    kind: str
    run: Callable[[], object]
    check: Callable[[object], bool]
    units: float = 1.0  # work units the step completes (throughput)


def _tree_bytes(path: str) -> int:
    total = 0
    for root, _dirs, files in os.walk(path):
        for f in files:
            total += os.path.getsize(os.path.join(root, f))
    return total


def _data_files(path: str) -> set[str]:
    out = set()
    for root, _dirs, files in os.walk(path):
        out.update(os.path.join(root, f) for f in files
                   if f.endswith(".parquet"))
    return out


class Workload:
    name = ""
    unit = "steps"  # what throughput counts

    def __init__(self, spark, work: str, seed: int, tracer: Tracer,
                 fs: CountingFS | None):
        self.spark = spark
        self.work = work
        self.seed = seed
        self.tr = tracer
        self.fs = fs

    def engine(self, warehouse: str, **kw) -> Engine:
        return Engine(self.spark, warehouse, fs=self.fs, **kw)

    def build(self, rep: int) -> None:
        raise NotImplementedError

    def deck(self):
        """The steps of one deck (an iterable, consumed step by step)."""
        raise NotImplementedError

    def warmup(self):
        """Steps run untimed before measuring: one deck by default."""
        return self.deck()

    def finish(self, traced: bool) -> dict:
        """Run-end measurements (untimed); per-layer extras when
        traced."""
        return {}


# ---------------------------------------------------------------------------
# versioned objects: shared by bulk_ingest and cdc_mixed


def object_rows(spark, oids: np.ndarray, vers: np.ndarray, start_s: int):
    """Generated objects: 8 fixed-width user fields of mixed types
    (including an array) derived from (oid, version), so a new version
    always changes the content hash and a resubmitted version never
    does. ``models.ROW_USER_BYTES`` is their logical size."""
    pdf = pd.DataFrame({"_oid": oids.astype(np.int64),
                        "ver": vers.astype(np.int64)})
    df = spark.createDataFrame(pdf)
    h = F.xxhash64("_oid", "ver")

    def mod(x, m):
        return F.pmod(x, F.lit(m))

    return df.select(
        "_oid",
        F.col("ver").cast("int").alias("ver"),
        F.lpad(F.hex(mod(h, 1 << 40)), 10, "0").alias("name"),
        F.concat(F.lit("cat_"),
                 F.lpad(mod(h, 97).cast("string"), 2, "0")).alias("category"),
        (mod(h, 1_000_000) / 100.0).alias("score"),
        mod(F.xxhash64("ver", "_oid"), 10_000).alias("qty"),
        (mod(h, 2) == 1).alias("active"),
        F.array(*[F.concat(F.lit("t"), F.lpad(
            mod(F.xxhash64("_oid", F.lit(i), "ver"), 10_000)
            .cast("string"), 4, "0")) for i in range(3)]).alias("tags"),
        (mod(h, 10_000_000) / 100).cast("decimal(12,2)").alias("price"),
        F.timestamp_seconds(F.lit(start_s)).alias("_start"),
    )


class _ObjectWorkload(Workload):
    cube = "objects"
    buckets = 4

    def _commit(self, oids, vers, start_s: int):
        """stamp + materialize, then a snapshot upsert; returns the
        cube's (open, total) row counts read from the manifest."""
        rows = object_rows(self.spark, oids, vers, start_s)
        with self.tr.span("objects.stamp"):
            inc = stamp(rows).localCheckpoint(eager=True)
        with self.tr.span("engine.upsert"):
            self.eng.upsert(self.cube, inc, stamped=True)
        self.tr.add("engine.upsert", user_bytes=len(oids)
                    * models.ROW_USER_BYTES, rows=len(oids))
        return (self.eng.count(self.cube),
                self.eng.count(self.cube, date="~"))

    def _commit_step(self, kind: str, batch: dict, start_s: int,
                     units: float) -> Step:
        files: dict = {}

        def run():
            if self.tr.active:
                files["before"] = _data_files(self.cube_path)
            out = self._commit(batch["oids"], batch["vers"], start_s)
            if self.tr.active:
                self.tr.add("engine.upsert", files_written=len(
                    _data_files(self.cube_path) - files["before"]))
            return out

        return Step(kind, run,
                    lambda r: models.check_counts(r[0], r[1], self.log),
                    units)

    @property
    def cube_path(self) -> str:
        return os.path.join(self.eng.warehouse, self.cube)

    def finish(self, traced: bool) -> dict:
        d = self.eng.describe(self.cube)
        user = self.log.rows_total * models.ROW_USER_BYTES
        out = {"space_amp": _tree_bytes(self.cube_path) / user,
               "live_dirs": d["open_dirs"] + d["closed_dirs"]}
        return out


class BulkIngest(_ObjectWorkload):
    """Large snapshot batches into a fresh cube: stamp hashing, the
    snapshot merge and the parquet write do the work."""

    name = "bulk_ingest"
    unit = "values"
    initial = 20_000
    batch = 20_000
    fields = 8

    def build(self, rep: int) -> None:
        self.log = models.ObjectLog(self.seed)
        self.eng = self.engine(os.path.join(self.work, f"wh{rep}"),
                               oid_buckets=self.buckets)
        self.batches = 0
        oids, vers = self.log.initial(self.initial)
        self._commit(oids, vers, models.T0)

    def deck(self):
        self.batches += 1
        b = self.log.bulk_batch(self.batch)
        return [self._commit_step("batch", b, models.T0 + 3600 * self.batches,
                                  self.batch * self.fields)]


class CdcMixed(_ObjectWorkload):
    """Trickle commits of 1-16 Zipf-hot objects between point lookups,
    with a compaction per deck: per-commit control-plane and job
    scheduling cost dominates. One oid bucket at the engine's ~16k
    rows/bucket design point, so every commit rewrites the same amount
    whichever keys it draws."""

    name = "cdc_mixed"
    preload = 16_000
    buckets = 1
    max_commit = 16

    def build(self, rep: int) -> None:
        self.log = models.ObjectLog(self.seed)
        self.eng = self.engine(os.path.join(self.work, f"wh{rep}"),
                               oid_buckets=self.buckets)
        oids, vers = self.log.initial(self.preload)
        self._commit(oids, vers, models.T0)
        self.commits = 0
        self.rng = np.random.default_rng([self.seed, 1])

    def _lookup_step(self, kind: str, oid: int) -> Step:
        def run():
            traced = self.tr.active
            if kind == "lookup_mql":
                q = f"_oid == {oid}"
                if traced:
                    with self.tr.span("mql.compile"):
                        compile_mql(q)
                        pruned = oid_literal_set(q) is not None
                    self.tr.add("mql.compile", pruned=float(pruned))
                with self.tr.span("engine.find"):
                    df = self.eng.find(self.cube, q)
            else:
                with self.tr.span("engine.find"):
                    df = self.eng.find(self.cube, oids=[oid])
            with self.tr.span("engine.find_exec"):
                rows = [r.asDict() for r in df.collect()]
            self.tr.add("engine.find_exec", returned=len(rows))
            return rows

        return Step(kind, run,
                    lambda rows: models.check_lookup(rows, oid, self.log))

    def _compact_step(self) -> Step:
        def run():
            with self.tr.span("compaction.compact"):
                removed = self.eng.compact(self.cube)
            self.tr.add("compaction.compact", dirs_removed=removed)
            return (self.eng.count(self.cube),
                    self.eng.count(self.cube, date="~"))

        return Step("compact", run,
                    lambda r: models.check_counts(r[0], r[1], self.log))

    def warmup(self):
        # one trickle commit: the set-up builds never merge into an
        # existing bucket, and a run's first merge takes about 1.6 times
        # as long as the next; the first lookups' cold cost is small and
        # sits above the lookup median
        return self._steps(["commit"])

    def deck(self):
        return self._steps(models.cdc_deck(self.rng))

    def _steps(self, kinds):
        """A generator, so each step's keys are drawn (and the model
        advanced) only after the previous step has run and been
        checked."""
        ryw = None
        for kind in kinds:
            if kind == "compact":
                yield self._compact_step()
            elif kind == "commit":
                self.commits += 1
                k = int(self.rng.integers(1, self.max_commit + 1))
                batch = self.log.trickle(k)
                ryw = int(batch["oids"][0])
                yield self._commit_step("commit", batch,
                                        models.T0 + 60 * self.commits, 1)
            elif ryw is not None:
                yield self._lookup_step(kind, ryw)
                ryw = None
            else:
                yield self._lookup_step(kind,
                                        int(self.log.zipf_keys(1)[0]))


# ---------------------------------------------------------------------------
# temporal analytics


class TemporalAnalytics(Workload):
    """Read-only as-of, range, daily-history and version-window queries
    over a deep imported history: scan, prune and shuffle bound, no
    commits."""

    name = "temporal_analytics"
    unit = "queries"
    objects = 300
    buckets = 4
    cube = "history"

    def build(self, rep: int) -> None:
        self.hist = models.make_history(self.seed, self.objects)
        h = self.hist
        pdf = pd.DataFrame({"_oid": h.oid, "val": h.val, "s": h.start,
                            "e": h.end})
        df = self.spark.createDataFrame(pdf).select(
            "_oid", F.col("val").cast("int").alias("val"),
            F.timestamp_seconds("s").alias("_start"),
            F.when(F.col("e") >= 0, F.timestamp_seconds("e"))
            .alias("_end"))
        self.eng = self.engine(os.path.join(self.work, f"wh{rep}"),
                               oid_buckets=self.buckets,
                               time_partition="month")
        self.eng.upsert(self.cube, df, autosnap=False)
        self.rng = np.random.default_rng([self.seed, 2])

    def _find(self, query=None, **kw):
        if query is not None and self.tr.active:
            with self.tr.span("mql.compile"):
                compile_mql(query)
                pruned = oid_literal_set(query) is not None
            self.tr.add("mql.compile", pruned=float(pruned))
        with self.tr.span("engine.find"):
            return self.eng.find(self.cube, query, **kw)

    def _step(self, q: models.TemporalQuery) -> Step:
        p, day = q.params, models.iso_day
        if q.kind == "asof":
            def run():
                df = self._find(f"val > {p['gt']}", date=day(p["day"]))
                with self.tr.span("engine.find_exec"):
                    n = df.count()
                self.tr.add("engine.find_exec", returned=n)
                return n
            kind = "asof"
        elif q.kind == "range":
            def run():
                df = self._find(date=f"{day(p['lo'])}~{day(p['hi'])}",
                                fields=["val"])
                with self.tr.span("engine.find_exec"):
                    r = df.agg(F.count(F.lit(1)), F.sum("val")).first()
                self.tr.add("engine.find_exec", returned=r[0])
                return (r[0], r[1])
            kind = "range"
        elif q.kind == "history":
            def run():
                tab = self._find(date="~")
                spine = temporal.date_spine(self.spark, day(p["days"][0]),
                                            day(p["days"][-1]))
                with self.tr.span("temporal.history"):
                    rows = temporal.history(tab, spine).collect()
                return [r["count"] for r in
                        sorted(rows, key=lambda r: r["_date"])]
            kind = "history"
        elif q.kind == "chain":
            def run():
                tab = self._find(date="~")
                with self.tr.span("temporal.window"):
                    return temporal.last_chain(tab).count()
            kind = "chain"
        else:
            def run():
                tab = self._find(date="~")
                rb = day(p["rbound"])
                with self.tr.span("temporal.window"):
                    return temporal.last_versions_with_age(
                        tab, rbound=rb).agg(F.sum("age")).first()[0]
            kind = "age"
        return Step(kind, run, lambda r: r == q.expected)

    def deck(self):
        return [self._step(q)
                for q in models.temporal_queries(self.hist, self.rng)]

    def warmup(self):
        # history and chain, whose first run takes 1.5-2.5 times as long
        # as the next, and an as-of find, whose first run uses about a
        # quarter more CPU; the age window reuses the chain window's
        # shuffle
        first: dict = {}
        for q in models.temporal_queries(self.hist, self.rng):
            first.setdefault(q.kind, q)
        return [self._step(first[k]) for k in ("history", "chain", "asof")]

    def finish(self, traced: bool) -> dict:
        d = self.eng.describe(self.cube)
        user = self.hist.rows * models.HISTORY_ROW_USER_BYTES
        return {"space_amp": _tree_bytes(os.path.join(
                    self.eng.warehouse, self.cube)) / user,
                "live_dirs": d["open_dirs"] + d["closed_dirs"]}


# ---------------------------------------------------------------------------
# corpus dedup


class CorpusDedup(Workload):
    """Quality signals, exact dedup, MinHash-LSH near-duplicate pairs and
    connected components over a corpus with planted duplicates."""

    name = "corpus_dedup"
    unit = "docs"
    docs = 200

    def build(self, rep: int) -> None:
        self.corpus = models.make_corpus(self.seed, self.docs)
        path = os.path.join(self.work, f"corpus{rep}")
        pdf = pd.DataFrame({"doc_id": self.corpus.doc_id,
                            "text": self.corpus.text})
        self.spark.createDataFrame(pdf).write.parquet(path)
        self.df = self.spark.read.parquet(path)

    def _pass(self) -> dict:
        df = self.df
        with self.tr.span("functions.text_signals"):
            g = ftext.gopher_quality_flags(df, keep=("text",))
            q = ftext.quality_score("text")
            sig = g.agg(F.sum(F.col("passes").cast("int")), F.min(q),
                        F.max(q)).first()
        with self.tr.span("functions.dedup_exact"):
            kept = fdedup.dedup_exact(df).localCheckpoint(eager=True)
            n_exact = kept.count()
        with self.tr.span("functions.minhash_pairs"):
            pairs_df = fdedup.minhash_dedup_pairs(kept)
            pairs = pairs_df.localCheckpoint(eager=True)
            n_pairs = pairs.count()
        release(pairs_df)
        with self.tr.span("functions.components"):
            n_keep = (fdedup.canonical_docs(kept, pairs)
                      .where("is_canonical").count())
        self.tr.add("functions.minhash_pairs", verified=n_pairs)
        return {"gopher_pass": sig[0], "quality_min": sig[1],
                "quality_max": sig[2], "exact_kept": n_exact,
                "verified_pairs": n_pairs, "keep": n_keep}

    def deck(self):
        exp = self.corpus.expected
        return [Step("pass", self._pass,
                     lambda r: models.check_dedup(r, exp), float(self.docs))]

    def finish(self, traced: bool) -> dict:
        if not traced:
            return {}
        kept = fdedup.dedup_exact(self.df)
        cand = fdedup.minhash_lsh_candidates(kept, shingle_n=1).count()
        return {"candidate_pairs": cand}


class Analytics(Workload):
    """Read-only analytics: temporal queries and a corpus dedup pass in
    each deck. No commits, so a write-path change should not move it;
    the temporal and ``functions/`` layers are told apart by the traced
    run."""

    name = "analytics"

    def __init__(self, *args):
        super().__init__(*args)
        self.parts = [TemporalAnalytics(*args), CorpusDedup(*args)]

    def build(self, rep: int) -> None:
        for p in self.parts:
            p.build(rep)

    def deck(self):
        """One temporal cycle, the history and window queries of a second
        one, and a dedup pass. The finds are spread evenly between the
        heavier steps, so the read samples span the whole deck rather
        than its first seconds. The second history and windows give
        each of those kinds two samples a run: a single one, still
        warming up, spread 0.4 of its median from run to run."""
        temporal, corpus = self.parts
        steps = temporal.deck()
        steps += [s for s in temporal.deck()
                  if s.kind not in ("asof", "range")] + corpus.deck()
        finds = [s for s in steps if s.kind in ("asof", "range")]
        heavy = [s for s in steps if s.kind not in ("asof", "range")]
        out = []
        for i, h in enumerate(heavy):
            out += [f for j, f in enumerate(finds)
                    if j * len(heavy) // len(finds) == i] + [h]
        return out

    def warmup(self):
        return [s for p in self.parts for s in p.warmup()]

    def finish(self, traced: bool) -> dict:
        out: dict = {}
        for p in self.parts:
            out.update(p.finish(traced))
        return out


WORKLOADS = {w.name: w for w in (BulkIngest, CdcMixed, TemporalAnalytics,
                                 CorpusDedup, Analytics)}


def make_fs(traced: bool) -> CountingFS | None:
    return CountingFS(LocalFS()) if traced else None
