"""Engine — the proxy/container layer: named cubes + query operators.

Replaces the reference's ``SQLAlchemyProxy`` + ``MetriqueContainer``
(``metrique/sqlalchemy.py``, ``metrique/core_api.py``). Cubes are
parquet-backed tables in a warehouse directory (partitioned by a
``_current`` flag so snapshot upserts never rewrite history — see
``upsert.py``), or plain registered DataFrames/views for read-only
analysis.

Query operators mirror the reference proxy surface
(``sqlalchemy.py:641-803``): find / count / distinct / get_last_field /
deptree / dfind, all MQL + date-range aware, all returning DataFrames that
Catalyst optimizes end-to-end (MQL compiles to a plain predicate tree, so
filter pushdown and column pruning reach the parquet scan).
"""

from __future__ import annotations

import contextlib
import operator
from functools import cached_property, reduce
from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

from metrique_spark import temporal, upsert as _upsert
from metrique_spark.fs import (ConcurrentWriteError, FileSystem,
                               LeaseHeldError, LeaseLock, LocalFS, publish)
from metrique_spark.fs import vacuum as _vacuum
from metrique_spark.mql import (compile_mql, date_end_lower_bound,
                                date_is_current_only, date_range_sql,
                                date_start_upper_bound, oid_literal_set,
                                parse_fields, to_timestamp_sql)
from metrique_spark.objects import (raise_invalid, sql_ident, sql_string,
                                   stamp, validity_checks)

import logging

_log = logging.getLogger("metrique_spark.engine")

# default fields always appended to explicit projections
# (reference sqlalchemy.py:264-273)
DEFAULT_FIELDS = ("_start", "_end", "_oid")


# wall-clock rendering for the per-directory max(_end) stats: zero-padded
# to microseconds so string order == chronological order, matching the
# normalized probe bound from _norm_ts_bound
_END_STAT_FMT = "yyyy-MM-dd HH:mm:ss.SSSSSS"


def _fmt_ts(dt) -> str:
    """Zero-padded ``yyyy-MM-dd HH:mm:ss.SSSSSS`` — strftime's %Y is NOT
    zero-padded for years < 1000 on glibc, which would break the
    lexicographic stat comparison, so the year is formatted explicitly
    (Spark's ``yyyy`` side is always 4-digit padded)."""
    return (f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d} "
            f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}."
            f"{dt.microsecond:06d}")


def _norm_ts_bound(s: str) -> str | None:
    """Normalize a date-spec bound to the zero-padded microsecond form
    the directory stats are recorded in, or None when the string is not
    a plain local timestamp (exotic formats Spark parses but this
    helper can't stay conservative about — no pruning, never wrong).
    Timezone-suffixed bounds are declined for the same reason: the
    stats are wall-clock strings in the recording session's zone."""
    from datetime import datetime

    try:
        dt = datetime.fromisoformat(s.strip().replace("T", " "))
    except (ValueError, TypeError):
        return None
    if dt.tzinfo is not None:
        return None
    return _fmt_ts(dt)


def _shift_ts_bound(s: str, hours: int) -> str | None:
    """Slacken a normalized bound by ``hours`` for the stat comparison:
    the stats and the bound are WALL-CLOCK renderings, while the row
    predicate compares instants — in a zone with UTC-offset transitions
    (DST fall-back, historical jumps) the two orderings can disagree by
    the offset delta. A ±26 h slack dominates any legal delta (even the
    Samoa 2011 +24 h day skip), so a directory is only skipped when no
    rendering ambiguity could make it match; sub-day precision is all
    the buffer costs."""
    from datetime import datetime, timedelta

    try:
        dt = datetime.strptime(s, "%Y-%m-%d %H:%M:%S.%f")
    except (ValueError, OverflowError):
        return None
    try:
        return _fmt_ts(dt + timedelta(hours=hours))
    except (OverflowError, ValueError):
        return None  # bound at datetime's min/max edge — skip pruning


def _is_swept_read_error(exc: BaseException) -> bool:
    """Does this exception look like the swept-generation race — a scan
    (or its plan-time file listing) hitting directories a concurrent
    commit deleted after we resolved the manifest pointer? Matched on
    the JVM exception text: Spark surfaces the executor-side miss as a
    ``FileNotFoundException`` (with a REFRESH TABLE hint) and the
    plan-time miss as ``[PATH_NOT_FOUND]``. A manifest segment file the
    same commit swept surfaces as a Python ``FileNotFoundError``."""
    s = str(exc)
    return (isinstance(exc, FileNotFoundError)
            or "FileNotFoundException" in s
            or "PATH_NOT_FOUND" in s
            or "FileNotFound" in s)


_BYTE_SHIFT = {"": 0, "b": 0, "k": 10, "kb": 10, "m": 20, "mb": 20,
               "g": 30, "gb": 30, "t": 40, "tb": 40, "p": 50, "pb": 50}


def _byte_size(text: str) -> int:
    """A Spark byte-size setting (``67108864b``, ``64m``, ``1k``) in
    bytes, with Spark's binary units; 0 when it does not parse."""
    import re

    m = re.fullmatch(r"(\d+)\s*([a-z]*)", text.strip().lower())
    if m is None or m[2] not in _BYTE_SHIFT:
        return 0
    return int(m[1]) << _BYTE_SHIFT[m[2]]


@contextlib.contextmanager
def named_jobs(spark: SparkSession, op: str, action: str):
    """Name every Spark job the block runs ``<op>:<action>``
    (``upsert:merge``, ``components:edges``, ...) through
    ``spark.job.description``, which the UI, the status store and the
    monitoring REST API's jobs and stages carry; the caller's
    description comes back on exit, exceptions included, and its job
    group is never touched. Three round trips per block."""
    sc, key = spark.sparkContext, "spark.job.description"
    prev = sc.getLocalProperty(key)
    sc.setLocalProperty(key, f"{op}:{action}")
    try:
        yield
    finally:
        sc.setLocalProperty(key, prev)


def _old_format_error(path: str, what: str) -> ValueError:
    """The one refusal for a cube in an older on-disk format. A
    ValueError, so callers that rebuild on ValueError treat the cube
    like any other unusable leftover."""
    return ValueError(
        f"cube at {path!r} is in an older on-disk format ({what}); this "
        "engine reads only a segmented format-7 manifest root that "
        "carries the schema, the oid-bucket count, the cube's layout "
        "and its index registry — rebuild the cube")


def _check_buckets(oid_buckets) -> None:
    """Every cube is oid-bucketed: the count is an int >= 1."""
    if not isinstance(oid_buckets, int) or oid_buckets < 1:
        raise ValueError(
            "oid_buckets must be > 0, an int (oid_buckets=1 is the "
            f"single-bucket layout), got {oid_buckets!r}")


# internal partition keys of a cube read: commit batch, oid bucket,
# period — not data
_INTERNAL = ("__batch", "__obucket", "__stime")


class _Snapshot:
    """One resolution of a cube (``Engine._resolve``): every fact a
    public op reads about the cube, taken from ONE read of the manifest
    root, so no op can mix two generations. ``state`` is ``new``
    (nothing committed) or ``manifest``; ``gen`` is the live
    generation. ``generation`` picks the generation the read-side facts
    (``dirs``, ``schema``, ``moduli``, ``oid_dtype``) describe, None =
    live. The assembled manifest is built lazily from the same raw root
    text, so the root-only ``count``/``describe`` paths load no segment.
    Cube-level facts, all from the root: ``layout`` (``{}`` before the
    first commit), ``keep`` (the cube's recorded retention),
    ``timepart`` (the recorded period key, None when the cube has none
    or a reader's session zone differs from the recorded one) and
    ``dropped`` (the dropped-column registry, name → type). Read-only,
    like everything it hands out."""

    def __init__(self, eng, path: str, raw: str | None,
                 root: dict | None, generation: int | None,
                 timepart: str | None):
        self._eng = eng
        self.path, self.raw, self.root = path, raw, root
        self.state = "new" if root is None else "manifest"
        self.gen = None if root is None else root["gen"]
        self.generation = generation
        self.layout = {} if root is None else root.get("layout", {})
        self.keep = self.layout.get("keep_generations", 0)
        self.dropped = {} if root is None else root.get("dropped", {})
        self.timepart = timepart

    @cached_property
    def manifest(self) -> dict:
        return self._eng._assembled(self.path, self.raw, self.root)

    @cached_property
    def entry(self) -> dict:
        """The chosen generation's assembled manifest entry."""
        m = self.manifest
        if self.generation in (None, m["gen"]):
            return m
        return next(h for h in m["history"] if h["gen"] == self.generation)

    @property
    def dirs(self) -> list[str]:
        return self.entry["dirs"]

    @property
    def schema(self) -> dict:
        return self.entry["schema"]

    @cached_property
    def moduli(self) -> list[int]:
        """The oid-bucket moduli a point-lookup prune must UNION over,
        the generation's own count first: normally just that count;
        during in-flight doubling migration(s) every FROM modulus joins
        it (the live manifest's ``migration`` blocks, a retained
        entry's ``moduli``). A directory at modulus ``m`` with value
        ``__obucket=v`` holds oids with ``hash % m == v``, so keeping
        every directory whose value is in ``{hash % m : m in moduli}``
        is sound whichever vintage the directory is — including CHAINED
        doublings, where three or more moduli coexist until the oldest
        block drains."""
        e = self.entry
        mods = set(e.get("moduli", ())) | {
            b["from"] for b in e.get("migration") or []}
        return [e["oid_buckets"]] + sorted(mods - {e["oid_buckets"]})

    @cached_property
    def oid_dtype(self):
        """The stored ``_oid`` dtype from the generation's schema (None
        when it has no ``_oid``): a point lookup hashes its literals
        under it to prune the directory list before the read."""
        from pyspark.sql.types import StructType

        st = StructType.fromJson(self.schema)
        return st["_oid"].dataType if "_oid" in st.fieldNames() else None

    @cached_property
    def bloom_ndv(self) -> int | None:
        """Average rows per live directory — the ``bloom_oid_ndv="auto"``
        estimate for this op's writes (see ``_write_dirs``); None before
        the first commit."""
        dirs = self.manifest["dirs"] if self.root is not None else ()
        if not dirs:
            return None
        rows = self.manifest["stats"]["rows"]
        return sum(rows[d] for d in dirs) // len(dirs)

    @cached_property
    def row_bytes(self) -> float | None:
        """Average recorded bytes per row over the live directories —
        what sizes a commit batch from its row count
        (``Engine._one_partition``); None before the first commit."""
        dirs = self.manifest["dirs"] if self.root is not None else ()
        if not dirs:
            return None
        st = self.manifest["stats"]
        return (sum(st["bytes"][d] for d in dirs)
                / sum(st["rows"][d] for d in dirs))


class Engine:
    # sentinel default for compact()/compact_vector_index()'s
    # ``small_bytes``: "use the engine's compact_small_bytes threshold"
    # (None means an explicit FULL consolidation)
    _FULL_COMPACT = object()

    def __init__(self, spark: SparkSession, warehouse: str | None = None,
                 auto_compact_batches: int | None = None,
                 fs: FileSystem | None = None,
                 lock_ttl: float | None = None,
                 lock_wait: float = 0.0,
                 oid_buckets: int = 16,
                 time_partition: str | None = None,
                 keep_generations: int = 0,
                 auto_compact_index_batches: int | None = None,
                 compact_small_bytes: int = 256 * 1024 * 1024,
                 bloom_oid_ndv: int | str | None = None):
        self.spark = spark
        self.warehouse = warehouse
        # control-plane storage backend (catalog listings, sidecars,
        # writer leases). Data-plane parquet I/O always goes through
        # Spark's own Hadoop FileSystem on the same paths. ``lock_ttl``
        # bounds how long a crashed remote writer's lease blocks others
        # on backends where pid liveness can't be probed (object stores);
        # None = never expire (same-host pid probing still reclaims).
        self.fs = fs or LocalFS()
        # a ttl <= 0 would make every held lease stale at once: a
        # second writer would reclaim a live holder's lease
        if lock_ttl is not None and lock_ttl <= 0:
            raise ValueError("lock_ttl must be > 0 or None")
        self.lock_ttl = lock_ttl
        # writer-contention ergonomics: fail-fast (the default, 0) is
        # right for the single-writer assumption, but a second
        # legitimate ETL job can opt into WAITING for the lease instead
        # — lock_wait bounds (seconds) how long acquisition retries
        # with backoff before ConcurrentWriteError. The commit protocol
        # itself stays single-writer; this only queues at the door.
        if lock_wait < 0:
            raise ValueError("lock_wait must be >= 0")
        self.lock_wait = lock_wait
        # second-level ``__obucket = pmod(xxhash64(_oid), N)`` partition
        # key for NEW cubes: a history import (upsert autosnap=False)
        # rewrites only the bucket directories containing incoming oids
        # (the reference deletes only the incoming oids' versions,
        # sqlalchemy.py:955-963 — at 100 TB a full-table rewrite per
        # import is the difference between minutes and days). The count
        # is recorded per cube in the manifest root from the first
        # commit, so every later writer — whatever ITS default — buckets
        # identically; raise it (e.g. 1024) for cubes whose history is
        # genuinely huge, or ``rebucket`` later. Every cube is bucketed:
        # 1 is the single-bucket layout.
        _check_buckets(oid_buckets)
        self.oid_buckets = oid_buckets
        # optional third partition level for NEW cubes: a ``__stime``
        # period key derived from ``_start`` (``"month"`` → yyyy-MM,
        # ``"year"`` → yyyy). At 100 TB of history an as-of or
        # date-range read otherwise scans every closed-version file;
        # with the period key the date spec's ``_start < U`` bound
        # partition-prunes to periods ``<= period(U)`` and the
        # current-only spec prunes to ``_current=true`` alone. Recorded
        # in the manifest root (with the writing session's timezone —
        # period strings are wall-clock renderings) so every later
        # writer partitions identically.
        if time_partition not in (None, "month", "year"):
            raise ValueError(
                f"time_partition must be None, 'month' or 'year', "
                f"got {time_partition!r}")
        self.time_partition = time_partition
        # when set, a snapshot upsert that leaves more than this many
        # __batch directories in a cube's history partition triggers
        # compact() — bounds the small-files growth of long-running
        # ingest (thousands of token-keyed batch dirs) without giving up
        # the idempotent per-batch commit. Off by default: compaction
        # rewrites all closed rows, which the caller may want to schedule.
        # A negative limit would compact after every commit: refused.
        for knob, v in (("auto_compact_batches", auto_compact_batches),
                        ("auto_compact_index_batches",
                         auto_compact_index_batches)):
            if v is not None and v < 0:
                raise ValueError(f"{knob} must be >= 0 or None")
        self.auto_compact_batches = auto_compact_batches
        # ANN-index sibling of auto_compact_batches: when a refresh
        # leaves more than this many append-batch partitions (files for
        # IVF) in an index, compact_vector_index runs as the refresh's
        # epilogue — bounds the tiny-file/listing growth of a
        # refreshed-nightly index without giving up the idempotent
        # per-refresh append. Off by default for the same reason as the
        # cube knob: bulk loads should not compact N times.
        self.auto_compact_index_batches = auto_compact_index_batches
        # size-tiered (LSM-style) compaction threshold: compact() and
        # compact_vector_index() merge only batch directories whose
        # total size is at or below this many bytes, carrying larger
        # consolidated levels forward by manifest reference UNTOUCHED.
        # This is what keeps routine maintenance O(recent small batches)
        # instead of O(|history|): with auto-compaction on, a steady
        # small-batch ingest repeatedly folds its trickle into a growing
        # consolidated level and stops touching it once it outgrows the
        # threshold. Pass small_bytes=None to a compact call for an
        # explicit full consolidation (e.g. before archiving a cube).
        if compact_small_bytes <= 0:
            raise ValueError("compact_small_bytes must be > 0")
        self.compact_small_bytes = compact_small_bytes
        # generation retention (time travel): keep the directory sets of
        # the last N superseded generations in the manifest, so
        # ``table(cube, generation=g)`` reads an exact committed
        # snapshot — the reproducibility pin a training run needs ("this
        # model saw corpus generation 41"). Retained generations'
        # directories are excluded from the post-commit sweep; 0 (the
        # default) keeps only the live generation, today's behavior.
        if keep_generations < 0:
            raise ValueError("keep_generations must be >= 0")
        self.keep_generations = keep_generations
        # parquet bloom filter on _oid for every cube data file this
        # engine writes (``parquet.bloom.filter.enabled#_oid``): inside
        # a hit bucket directory, row-group min/max stats on _oid are
        # useless (the bucket hash scatters oids uniformly), so a point
        # lookup still reads every row group of the bucket — a bloom
        # lets parquet-mr drop row groups at the reader for _oid
        # equality/IN predicates, the third level of the lookup story
        # (bucket dir → row group → row). The value is the expected
        # distinct-oid count PER FILE (sizing: ~1.2 bits/key at 1% FPP;
        # ndv=100_000 ≈ 130 KB per file — negligible against 128 MB
        # data files, real overhead on tiny ones, hence opt-in). Purely
        # physical file metadata: readers without bloom support ignore
        # it, and files written without it coexist with files written
        # with it in the same cube.
        # ``"auto"`` derives the per-file NDV from the cube's own
        # manifest row stats at each write (average rows per live
        # directory ≈ rows per file ≈ distinct oids per file, since a
        # bucket dir typically holds one file and oids are unique
        # within the open snapshot) — blooms sized usefully without the
        # user doing capacity math. First writes (no stats yet) fall
        # back to a 100k-key default (~130 KB/file at 1% FPP).
        if isinstance(bloom_oid_ndv, str):
            if bloom_oid_ndv != "auto":
                raise ValueError("bloom_oid_ndv must be > 0 or 'auto'")
        elif bloom_oid_ndv is not None and bloom_oid_ndv <= 0:
            raise ValueError("bloom_oid_ndv must be > 0 or 'auto'")
        self.bloom_oid_ndv = bloom_oid_ndv
        # publish the warehouse scratch root for the sampling module's
        # engine-managed reliable spill (ranked_within_strata's
        # boundary-sampling hazard): with an engine in scope, callers on
        # a real cluster get the executor-loss-safe path WITHOUT
        # remembering the knob. Session-global, last engine wins — any
        # warehouse is a valid scratch host; vacuum() sweeps the root.
        if warehouse:
            try:
                self.spark.conf.set(
                    "spark.metrique_spark.scratchDir",
                    self.fs.join(warehouse, "_scratch"))
            except Exception:
                pass
        self._views: dict[str, DataFrame] = {}
        # advisory index registry: cube -> [{"name", "column_names"}]
        # (this session's declarations; a committed cube's root keeps
        # the durable copy)
        self._indexes: dict[str, list[dict]] = {}
        # cubes whose write lock THIS engine currently holds (reentrancy:
        # upsert's auto-compact runs inside the upsert's lock)
        self._held_locks: set[str] = set()
        # parsed manifest SEGMENT files, keyed by full
        # path. Sound to cache: a segment file is immutable once the
        # root referencing it commits (writers only ever create new
        # gen-scoped segment files; a crashed writer's overwrite of its
        # own uncommitted file is invisible — no committed root ever
        # referenced it). Entries are dropped when a commit retires the
        # file.
        self._seg_cache: dict[str, dict] = {}
        # assembled-manifest cache: path -> (root raw text, meta).
        # Keyed by the EXACT root text, so any commit (ours or another
        # engine's) invalidates it on the next resolution; holders must
        # treat the returned dict as read-only.
        self._meta_cache: dict[str, tuple[str, dict]] = {}
        # Columns of the SQL expressions the commit and lookup plans are
        # built from (``_exprs``), keyed by their text — which spells
        # out the schema and bucket moduli they depend on
        self._expr_cache: dict[str, Column] = {}
        # cube path -> (schema, DataFrameReader) of ``_read_dirs``, and
        # (schema, frame of no rows) for its read of no directory
        self._readers: dict[str, tuple] = {}
        self._empties: dict[str, tuple] = {}

    def _jobs(self, op: str, action: str):
        """``named_jobs`` on this Engine's session."""
        return named_jobs(self.spark, op, action)

    def _exprs(self, *sql: str) -> list[Column]:
        """The ``Column`` of each SQL expression text, built once per
        Engine: every driver→JVM call a plan's construction makes is a
        round trip, and a cached expression costs none."""
        cache = self._expr_cache
        out = []
        for s in sql:
            c = cache.get(s)
            if c is None:
                c = cache[s] = F.expr(s)
            out.append(c)
        return out

    # -- catalog ------------------------------------------------------------

    def _path(self, cube: str) -> str:
        if not self.warehouse:
            raise ValueError("no warehouse directory configured")
        return self.fs.join(self.warehouse, cube)

    def register(self, cube: str, df: DataFrame) -> None:
        """Register a read-only DataFrame as a cube (temp-view analog)."""
        self._views[cube] = df
        df.createOrReplaceTempView(cube)

    def _read_raw(self, path: str, generation: int | None = None,
                  date: str | None = "~",
                  lookup: Sequence | None = None) -> DataFrame:
        """Cube read KEEPING the internal partition columns (``__batch``,
        ``__obucket``, ``__stime``) of ONE snapshot (``_resolve``): the
        generation, its directories, schema and bucket moduli and the
        layout's period key all come from a single read of the
        ``_manifest.json`` generation pointer — never from a listing —
        so a read is snapshot-isolated against concurrent commits and
        can never mix two generations: writers only ever create NEW
        directories and flip the pointer (CAS), so a reader sees
        exactly-old or exactly-new. A reader whose snapshot a later
        commit sweeps fails cleanly on the missing files (or manifest
        segments) rather than silently mixing generations; this read
        re-resolves the WHOLE snapshot once at plan time, and the
        engine's materializing readers — ``count``/``find_one``/
        ``find_scalar``/``get_last_field``/``deptree`` — rebuild once
        on an execution-time miss, then fail loud. A cube with no
        committed generation raises ValueError; one in an older on-disk
        format raises ``_resolve``'s refusal. ``date`` and ``lookup``
        prune the read (see ``_scan``); the default reads everything."""
        for attempt in (0, 1):
            try:
                return self._scan(self._resolve(path, generation), date,
                                  lookup)
            except Exception as e:
                if attempt or not _is_swept_read_error(e):
                    raise

    def _scan(self, snap: _Snapshot, date: str | None = "~",
              lookup: Sequence | None = None) -> DataFrame:
        """The read of one snapshot, with every prune the date spec and
        the point-lookup literals imply expressed on the DIRECTORY LIST
        or the partition columns, so the parquet scan skips whole
        directories instead of filtering rows:

        - as-of / since specs bound ``_end`` from below and ``_start``
          from above: closed dirs whose recorded stats cannot match are
          skipped (``_prune_by_end_stats``);
        - ``lookup`` (``find(oids=...)``, or the same lookup written as
          MQL — ``_oid == X`` / ``_oid in [...] and ...``, the
          reference's idiom) turns the literals into ``__obucket``
          values under the snapshot's moduli and stored ``_oid`` dtype,
          and the directory list keeps only the hit buckets — a point
          lookup's plan-time listing is O(hit dirs), not O(cube): past
          ~32 paths Spark runs the listing as a one-task-per-directory
          JOB. Sound only when the literals share the stored ``_oid``'s
          type family (``_prune_family_ok``); otherwise unpruned
          (skipped, not wrong). When the prune empties the list (the
          literals hash only into buckets no write ever created), the
          read is ``_read_dirs``' frame of no rows under the
          generation's schema, and nothing is listed;
        - a time-partitioned cube prunes ``__stime`` periods after the
          spec's strict ``_start < U`` bound (skipped when the session
          zone differs from the layout's recorded zone);
        - the current-only spec reads ``_current=true`` alone.

        The partition predicates above are ONE filter over the read,
        built as SQL text: a lookup's plan costs a few driver→JVM calls,
        not one per predicate."""
        if snap.root is None:
            raise ValueError(
                f"cube at {snap.path!r} has no committed generation")
        dirs = snap.dirs
        if not dirs:
            raise RuntimeError(
                f"cube manifest at {snap.path!r} lists no data directories")
        lo, hi = date_end_lower_bound(date), date_start_upper_bound(date)
        dirs = self._prune_by_end_stats(
            snap.manifest, dirs, _norm_ts_bound(lo) if lo else None,
            _norm_ts_bound(hi) if hi else None)
        bvals = None
        if lookup and snap.oid_dtype is not None \
                and self._prune_family_ok(snap.oid_dtype, lookup):
            bvals = self._oid_bucket_values(lookup, snap.moduli,
                                            dtype=snap.oid_dtype)
            dirs = self._prune_dirs_by_bucket(dirs, bvals)
            if not dirs:
                return self._read_dirs(snap.path, snap.schema, [])
        preds = []
        if bvals:
            # belt-and-braces value filter on the pruned read
            preds.append(f"__obucket IN ({', '.join(map(str, bvals))})")
        if snap.timepart and hi is not None:
            fmt = "yyyy-MM" if snap.timepart == "month" else "yyyy"
            preds.append(f"(__stime <= date_format({to_timestamp_sql(hi)}, "
                         f"'{fmt}') OR __stime IS NULL)")
        if date_is_current_only(date):
            preds.append("_current")
        df = self._read_dirs(snap.path, snap.schema, dirs)
        return df.where(" AND ".join(preds)) if preds else df

    def _read_dirs(self, path: str, schema: dict,
                   rels: Sequence[str]) -> DataFrame:
        """Read an EXPLICIT list of a manifested cube's directories
        under a generation's manifest ``schema`` — the one scan every
        cube read builds. ``_scan`` passes a snapshot's (pruned)
        directory list; the migration-aware merge paths pass exactly
        the directories they are about to drop: during a doubling
        migration a value-level ``__obucket`` predicate cannot
        distinguish an old-modulus directory from a migrated one
        carrying the same bucket value, but the manifest relpaths
        identify each directory uniquely. The authoritative schema
        means no footer sampling at plan time, and files written before
        a column evolved in read back as typed nulls, and the
        directory-encoded ``_current`` reads as the boolean it declares.
        The reader (base path and schema set) is built once per cube and
        schema. An empty ``rels`` gives a frame of no rows under the
        schema, also built once: a parquet read of no path would log
        Spark's "All paths were ignored" warning on every call."""
        from pyspark.sql.types import StructType

        if not rels:
            cached = self._empties.get(path)
            if cached is None or cached[0] != schema:
                # the false filter plans as an empty local relation:
                # collecting it runs no job
                cached = self._empties[path] = (
                    schema, self.spark.createDataFrame(
                        [], StructType.fromJson(schema)).where("false"))
            return cached[1]
        cached = self._readers.get(path)
        if cached is None or cached[0] != schema:
            cached = self._readers[path] = (
                schema, self.spark.read.option("basePath", path)
                .schema(StructType.fromJson(schema)))
        return cached[1].parquet(*[self.fs.join(path, d) for d in rels])

    @staticmethod
    def _hit_dirs(hits: dict[int, set[int]], meta: dict, buckets: int,
                  dirs, current_only: bool) -> set[str]:
        """The manifest directories a merge/import must read-and-drop
        for a batch: an oid's rows live in a directory at modulus ``m``
        only where ``__obucket = hash % m``. Outside a migration every
        directory is at the live modulus ``buckets``; during in-flight
        doubling migration(s) the modulus resolves per DIRECTORY
        vintage from the per-dir modulus blocks (a value-level
        predicate cannot tell vintages apart). ``hits`` maps every live
        modulus to the bucket values the batch hashes into under it
        (the commit probe's output, ``_probe``)."""
        blocks = meta.get("migration") or []
        hit = {m: {f"__obucket={v}" for v in vals}
               for m, vals in hits.items()}
        dmod = {d: b["from"] for b in blocks for d in b["old_dirs"]}
        return {d for d in dirs
                if (not current_only or d.startswith("_current=true"))
                and d.split("/")[1] in hit[dmod.get(d, buckets)]}

    @staticmethod
    def _prune_dirs_by_bucket(dirs: list, values: Sequence[int]) -> list:
        """Directory-level twin of the ``__obucket`` value filter: keep
        a dir iff its path-encoded bucket value is in the hit set.
        Exactly the directories partition pruning would leave, but
        applied before the reader ever lists files. Sound under
        in-flight doubling migrations for the same reason the value
        filter is: ``values`` is the union of the hit values under
        EVERY live modulus (``_oid_bucket_values(moduli=...)``), and a
        dir's path value was written under one of them."""
        vals = {f"__obucket={v}" for v in values}
        return [d for d in dirs if d.split("/")[1] in vals]

    def _prune_by_end_stats(self, meta: dict, dirs: list,
                            min_end: str | None,
                            start_upper: str | None = None) -> list:
        """Planning-time directory skipping from the manifest's
        per-directory stats: when the date spec requires ``_end >= L``
        of closed rows, a closed directory whose whole content ended
        before L cannot contribute; when it requires ``_start < U``, a
        directory whose earliest ``_start`` is already >= U cannot
        either — skip them before the scan ever lists their files
        (the ``__stime`` layout adds the same start prune at period
        granularity).
        Open directories without a max_end stat, directories without a
        recorded stat, and stats recorded under a different session
        timezone are always kept (skipped-not-wrong). If everything is
        skipped, fall back to the unpruned set: the row predicate still
        guarantees correctness, and an empty parquet source has no
        schema to offer."""
        if not min_end and not start_upper:
            return dirs
        st = meta.get("stats")
        if not st or st.get("tz") != self._session_tz():
            return dirs
        me = st.get("max_end") or {}
        ms = st.get("min_start") or {}
        # ±26 h slack: the stats and bounds are wall-clock strings while
        # the row predicate compares instants — see _shift_ts_bound
        end_b = _shift_ts_bound(min_end, -26) if min_end else None
        start_b = _shift_ts_bound(start_upper, 26) if start_upper else None

        def keep(d: str) -> bool:
            if end_b and d.startswith("_current=false") \
                    and d in me and me[d] < end_b:
                return False
            if start_b and d in ms and ms[d] >= start_b:
                return False
            return True

        kept = [d for d in dirs if keep(d)]
        return kept or dirs

    def table(self, cube: str, generation: int | None = None) -> DataFrame:
        """The cube as a DataFrame (reference ``get_table``).
        ``generation`` reads an exact retained snapshot instead of the
        live one (time travel — see ``keep_generations``): the
        reproducibility pin for "re-run against the corpus state a
        training job actually saw"."""
        if cube in self._views:
            if generation is not None:
                raise ValueError(
                    f"{cube!r} is a registered view — generations exist "
                    "only for warehouse cubes")
            return self._views[cube]
        return self._read_raw(self._path(cube), generation).drop(*_INTERNAL)

    def generations(self, cube: str) -> list[int]:
        """Generation numbers readable right now: the live one plus any
        retained by ``keep_generations`` — newest first."""
        root = self._resolve(self._path(cube)).root
        if root is None:
            return []
        return [root["gen"]] + [h["gen"] for h in root.get("history", [])]

    def ls(self) -> list[str]:
        """List cubes (reference ``sqlalchemy.py:877-888``)."""
        names = set(self._views)
        if self.warehouse:
            names.update(
                d for d in self.fs.listdir(self.warehouse)
                if self.fs.isdir(self.fs.join(self.warehouse, d))
            )
        return sorted(names)

    def exists(self, cube: str) -> bool:
        return cube in self._views or (
            self.warehouse is not None and self.fs.isdir(self._path(cube))
        )

    def columns(self, cube: str) -> list[str]:
        return self.table(cube).columns

    @staticmethod
    def _check_redrop(snap: _Snapshot, incoming: DataFrame,
                      stored_cols) -> None:
        """Re-adding a previously dropped column is allowed ONLY at its
        recorded type: old files still hold the old physical values, so
        a manifest schema naming the same column at a different type
        would make them unreadable roulette. Same-type re-add is an
        undrop for UNREWRITTEN files — pre-drop values resurface in any
        file whose bytes never moved: closed history rows always, and
        open rows in oid-bucket directories no later snapshot batch
        happened to hit (the bucket-granular merge only rewrites hit
        buckets); open rows in rewritten buckets read null, because the
        rewrite landed under the post-drop schema (the documented
        no-rewrite trade of ``drop_column``)."""
        reg = snap.dropped
        for f in incoming.schema.fields:
            t = reg.get(f.name)
            if (t is not None and f.name not in stored_cols
                    and f.dataType.simpleString() != t):
                raise TypeError(
                    f"column {f.name!r} was previously dropped at type "
                    f"{t} and cannot be re-added as "
                    f"{f.dataType.simpleString()} — files written before "
                    "the drop still hold the old physical type; re-add "
                    f"at {t}, or use a different column name")

    def drop_column(self, cube: str, col: str) -> None:
        """Drop a data column from the cube's AUTHORITATIVE read schema
        — a manifest-only commit: NO data rewrite (files keep their
        bytes), the column disappears from every live read plan at the
        pointer flip, and RETAINED generations still read it (each
        history entry carries its own schema, so time travel reproduces
        the pre-drop frame exactly). This is the undo for an accidental
        ``evolve=True`` widening, and one half of a rename
        (rename = ``drop_column(old)`` + a widening batch under the new
        name; values don't migrate — old rows read the new name as
        null, the schemaless-reference semantics). Note the open-row
        caveat: open rows rewrite under the then-current schema on
        every snapshot commit, so post-drop commits physically
        null-fill them — only files that never rewrite (closed history
        batches, retained generations) keep the dropped bytes.

        The dropped name + type is recorded in the manifest root's
        ``dropped`` registry by the same CAS that publishes the narrower
        schema, and the name may only ever be re-added at the SAME type
        (see ``_check_redrop``). System/partition columns can't drop."""
        from pyspark.sql.types import StructType

        from metrique_spark.objects import SYSTEM_FIELDS

        reserved = set(SYSTEM_FIELDS) | {"_current", "__obucket",
                                         "__stime", "__batch"}
        if col in reserved:
            raise ValueError(
                f"cannot drop {col!r}: system/partition columns are the "
                "temporal-versioning contract, not data")
        path = self._path(cube)
        with self._write_lock(cube):
            snap = self._resolve(path)
            if snap.root is None:
                raise ValueError(
                    f"cube {cube!r} is new — drop_column needs a "
                    "committed cube")
            sch = StructType.fromJson(snap.schema)
            hit = [f for f in sch.fields if f.name == col]
            if not hit:
                raise ValueError(
                    f"cube {cube!r} has no column {col!r} "
                    f"(schema: {[f.name for f in sch.fields]})")
            # a committed ANN index is a derived structure OVER a vector
            # / id column: dropping that column would strand the index
            # (a later refresh reads a column that no longer exists and
            # dies with an AnalysisException deep in the plan) — refuse
            # with the dependency named instead
            for iname, im in self._vector_indexes(snap, snap.gen).items():
                if col in (im.get("vec_col"), im.get("id_col")):
                    raise ValueError(
                        f"cannot drop {col!r}: committed vector index "
                        f"{iname!r} depends on it "
                        f"(vec_col={im.get('vec_col')!r}, "
                        f"id_col={im.get('id_col')!r}) — "
                        "drop_vector_index first, or rebuild it over "
                        "another column)")
            newsch = StructType(
                [f for f in sch.fields if f.name != col]).jsonValue()
            gen = self._commit(snap, set(snap.dirs), None, schema=newsch,
                               facts={"dropped": {
                                   **snap.dropped,
                                   col: hit[0].dataType.simpleString()}})
            # the generation advanced, so auto-refresh indexes like
            # every other commit: content is identical (the dropped
            # column can't be an index column — guarded above), the
            # diff is empty, and this only bumps the roots' generation
            # so searches keep working
            self._auto_refresh_indexes(cube, snap, gen)

    def drop(self, cube: str) -> None:
        """Drop a cube (reference ``sqlalchemy.py:723-747``)."""
        self._views.pop(cube, None)
        self.spark.catalog.dropTempView(cube)
        if self.warehouse and self.fs.isdir(self._path(cube)):
            path = self._path(cube)
            with self._write_lock(cube):
                self.fs.delete_dir(path)
            # purge manifest caches under the dropped path: a
            # RE-CREATED cube reuses gen-scoped segment filenames, and
            # a stale cached parse would otherwise serve the old
            # cube's content through the new cube's root
            self._meta_cache.pop(path, None)
            prefix = self.fs.join(path, self._MANIFEST_SEGDIR)
            for k in [k for k in self._seg_cache if k.startswith(prefix)]:
                self._seg_cache.pop(k, None)

    def index(self, cube: str, fields, name: str | None = None) -> None:
        """Register an advisory index (reference ``index``,
        ``sqlalchemy.py:826-847``). Spark has no secondary indexes —
        file-format stats and partitioning serve that role — but the
        declaration is durably recorded per cube so ``index_list`` can
        report it (and a planner MAY use it as a sort/partition hint).
        A committed cube records this session's declarations in its
        manifest root's ``indexes`` list: a new root at the same
        generation, published by CAS under the writer lease, so two
        sessions registering at once cannot lose one declaration. On a
        cube with nothing committed the declaration stays in this
        session."""
        if isinstance(fields, str):
            fields = [fields]
        fields = list(fields)
        name = name or f"ix_{cube}_" + "_".join(fields)
        entry = {"name": name, "column_names": fields}
        registry = self._indexes.setdefault(cube, [])
        if entry not in registry:
            registry.append(entry)
        if not self.warehouse:
            return
        with self._write_lock(cube):
            snap = self._resolve(self._path(cube))
            if snap.root is None:
                return
            # merge with the persisted list: a fresh Engine starts with
            # an empty registry, and a blind write would drop
            # declarations recorded by prior sessions
            have = snap.root.get("indexes", [])
            new = have + [e for e in registry if e not in have]
            if new != have:
                self._republish(snap, indexes=new)

    def index_list(self) -> dict[str, list[dict]]:
        """All advisory indexes per cube (reference ``index_list``,
        ``sqlalchemy.py:849-863``: dict of table → index descriptors) —
        merges this session's registrations with the ``indexes`` list
        each committed cube's manifest root persists."""
        out: dict[str, list[dict]] = {c: [] for c in self.ls()}
        for cube, entries in self._indexes.items():
            out.setdefault(cube, []).extend(entries)
        if self.warehouse:
            for cube in list(out):
                root = self._resolve(self._path(cube)).root or {}
                for e in root.get("indexes", []):
                    if "vector" not in e and e not in out[cube]:
                        out[cube].append(e)
        return out

    # -- vector (ANN) indexes ------------------------------------------------
    # The similarity module's persisted index family (IVF / PQ / IVF-PQ /
    # SQ8), managed under the cube's directory with the cube's own commit
    # protocol: every build / refresh / compaction writes fresh granule
    # directories and publishes ONE ``_ann.json`` root by CAS under the
    # writer lease (``similarity._publish``), so a crash at any step
    # leaves the last committed index searchable. The root is stamped
    # with the cube generation its content reflects and checked at
    # search time against the live manifest pointer — a search against
    # an index built before the corpus changed fails loud instead of
    # silently returning neighbors from a superseded corpus.

    _ANN_KINDS = ("ivf", "pq", "ivfpq", "sq8")

    def _ann_path(self, cube: str, name: str) -> str:
        return self._ann_path_of(self._path(cube), name)

    def _ann_path_of(self, path: str, name: str) -> str:
        # underscore prefix: invisible to Spark's parquet discovery, so
        # the index lives inside the cube directory without polluting it
        return self.fs.join(path, f"_ann_{name}")

    def build_vector_index(self, cube: str, name: str, vec_col: str,
                           kind: str = "ivf", id_col: str = "_oid",
                           auto_refresh: bool = False,
                           drift_tol: float | None = None,
                           **params) -> None:
        """Build (or rebuild) a persisted ANN index over a cube's vector
        column — CURRENT versions only (an embedding index over history
        rows would return superseded objects). ``params`` pass through
        to the family's trainer (nlist/m/k/iters/...). The model and
        codes land in fresh directories, and ONE root naming them — plus
        the cube generation the build read, for the staleness check — is
        published by CAS last: a crashed build leaves the previous index
        (if any) committed and searchable, and its own directories for
        ``vacuum``.

        ``auto_refresh=True`` closes the staleness loop: every commit on
        the cube (upsert / insert / compact) runs
        ``refresh_vector_index`` on this index as its last step, so
        searches never hit the stale-generation error — the commit pays
        the O(delta) refresh instead. Off by default: bulk-loading N
        batches should not refresh N times (refresh once after, or
        rebuild).

        NOTE: vector columns must be ingested with
        ``stamp(sort_arrays=False)`` — the default container
        normalization SORTS array fields for order-insensitive hashing,
        which destroys vector semantics (every sorted gaussian vector
        looks like every other; similarities collapse toward 1)."""
        from metrique_spark.functions import similarity as _sim

        if kind not in self._ANN_KINDS:
            raise ValueError(
                f"unknown vector-index kind {kind!r}; one of "
                f"{self._ANN_KINDS}")
        _sim._check_gbuckets(params)
        if kind == "sq8" and params:
            # sq8 has no tuning knobs; recording ignored params in the
            # root would report configuration that was never applied
            raise TypeError(
                f"sq8 vector indexes take no extra params, got "
                f"{sorted(params)}")
        path = self._path(cube)
        with self._write_lock(cube):
            snap = self._resolve(path)
            if snap.root is None:
                # staleness detection rides the generation pointer: an
                # index over an uncommitted cube has no gen to pin
                raise ValueError(
                    f"cube {cube!r} has no committed generation — build "
                    "vector indexes after the first commit")
            # _current is the partition column (== _end IS NULL by
            # construction): filtering on it prunes every closed history
            # directory at plan time instead of scanning years of
            # superseded versions just to drop them
            df = self._scan(snap, date=None).drop("_current", *_INTERNAL)
            apath = self._ann_path(cube, name)
            try:
                old = (_sim._load_root(self.fs, apath) or (None,))[0]
            except ValueError:
                old = None
            if old is None:
                # no committed index in the current form: nothing in the
                # directory (a crashed first build, an older-form index)
                # is readable, so start from an empty one
                self.fs.delete_dir(apath)
            with self._jobs("ann_build", "index"):
                root = _sim._stage_build(df, apath, kind, id_col, vec_col,
                                         **params)
            # build-time drift baseline: the same distribution-fit
            # statistic refresh will compute over appended deltas (see
            # similarity.drift_stat) recorded against the corpus the
            # model was TRAINED on — one extra map-only pass at build
            # (sq8's clip fraction is 0 by construction: the params ARE
            # the corpus extrema, so no job at all)
            with self._jobs("ann_build", "drift"):
                dmetric, dval = (
                    ("clip_frac", 0.0) if kind == "sq8" else
                    _sim._index_drift(df, apath, root, vec_col))
            root.update(gen=snap.gen, vec_col=vec_col, params=params,
                        auto=bool(auto_refresh),
                        drift_base={"metric": dmetric, "value": dval})
            if drift_tol is not None:
                # per-index tolerance: drift sensitivity is a property
                # of the INDEX's workload, so it rides the root — a
                # later refresh (auto included) applies it without the
                # caller re-passing the knob
                root["drift_tol"] = float(drift_tol)
            # named in the cube root's registry first: a crash between
            # the two leaves a named index with no committed root,
            # which every listing skips
            entry = {"name": name, "vector": True}
            have = snap.root.get("indexes", [])
            if entry not in have:
                self._republish(snap, indexes=[*have, entry])
            _sim._publish(self.fs, apath, old, root)

    def vector_index_list(self, cube: str,
                          counts: bool = False) -> dict[str, dict]:
        """Committed ANN indexes on the cube: name → its root's
        descriptive fields (kind, gen, columns, params, drift) plus a
        ``stale`` flag (built generation != live). ``counts=True`` adds
        each index's append-batch count (``batches``), the quantity
        ``compact_vector_index`` bounds. An older-form index is not
        listed: only a rebuild makes it usable again."""
        snap = self._resolve(self._path(cube))
        return self._vector_indexes(snap, snap.gen, counts)

    def _vector_indexes(self, snap: _Snapshot, live: int | None,
                        counts: bool = False) -> dict[str, dict]:
        """``vector_index_list`` of the ANN indexes ``snap``'s root
        registry names, against a generation the caller already
        resolved (``live``) — commits pass the generation they just
        published, so their index epilogue reads no manifest, and a
        cube without indexes pays no control call at all."""
        from metrique_spark.functions import similarity as _sim

        out: dict[str, dict] = {}
        for e in (snap.root or {}).get("indexes", []):
            if "vector" not in e:
                continue
            apath = self._ann_path_of(snap.path, e["name"])
            try:
                got = _sim._load_root(self.fs, apath)
            except ValueError:
                continue  # older form: only a rebuild makes it usable
            if got is None:
                continue  # crashed first build — uncommitted
            root = got[1]
            m = {k: v for k, v in root.items()
                 if k not in ("model", "granules", "schema")}
            m["stale"] = m.get("gen") != live
            if counts:
                m["batches"] = _sim._batch_count(root)
            out[e["name"]] = m
        return out

    def vector_search(self, cube: str, name: str, queries: DataFrame,
                      k: int = 5, nprobe: int | None = None,
                      allow_stale: bool = False) -> DataFrame:
        """Search a cube's persisted ANN index — exactly the granules
        its committed root names, so a crashed writer's directories are
        invisible. A search whose frame runs while a concurrent writer
        publishes a new root can fail with a missing-file error (the
        publish deletes the granules it retires); re-run it. Fails loud
        when the root was built against a superseded generation (the
        corpus changed under it) unless ``allow_stale=True`` — a stale
        ANN answer LOOKS fine, which is exactly why it must not be
        silent. Under ``Engine(lock_wait=N)`` a stale search re-reads
        the root while another writer holds the cube's lease (a refresh,
        or an auto-refresh commit epilogue, in flight) until the live
        generation is published or the deadline passes; with no writer
        in flight nothing can make the index live, so it fails at once.
        Returns the family's (query_id, neighbor_id, sim|score) frame;
        neighbor ids are the cube's ``_oid`` values by default."""
        import time as _time

        from metrique_spark.functions import similarity as _sim

        apath = self._ann_path(cube, name)
        deadline = _time.monotonic() + self.lock_wait
        backoff = 0.05
        while True:
            _, root = _sim._read_root(self.fs, apath)
            live = self._resolve(self._path(cube)).gen
            if (allow_stale or root.get("gen") == live
                    or _time.monotonic() + backoff > deadline):
                break
            if not self._lease(cube).busy():
                # no writer in flight: one re-read catches a refresh
                # that published between the root read and the check
                _, root = _sim._read_root(self.fs, apath)
                break
            _time.sleep(backoff)
            backoff = min(backoff * 2, 1.0)
        if root.get("gen") != live and not allow_stale:
            raise ValueError(
                f"vector index {name!r} on cube {cube!r} was built at "
                f"generation {root.get('gen')} but the cube is at {live} "
                "— refresh_vector_index (incremental, needs the built "
                "generation retained), re-run build_vector_index, or "
                "pass allow_stale=True to search the superseded corpus "
                "deliberately")
        return _sim._topk(self.spark, apath, root, queries, k, nprobe,
                          root["vec_col"])

    def refresh_vector_index(self, cube: str, name: str,
                             drift_tol: float | None = None) -> dict:
        """Incrementally bring a committed ANN index up to the LIVE
        generation without re-training or re-encoding the corpus: diff
        the live current rows against the INDEX'S OWN CONTENT (raw
        stored vectors for IVF; the per-row ``__vh`` vector fingerprint
        for PQ/SQ8/IVF-PQ), REMOVE superseded ids by rewriting only the
        granules that hold one (bucket / cluster / ``__gbucket`` ×
        batch leaves) into fresh ones, encode-and-append only the
        new/changed rows against the STORED model (frozen
        centroids/codebooks/params — recall drifts with the data
        distribution, correctness doesn't; rebuild when bucket sizes
        skew), and publish the new root with the live generation. WRITE
        cost is O(delta) encoding + O(hit granules) code copying — never
        the corpus; the diff's READ side does scan the whole index's
        slim (id, fingerprint) pair — column-pruned, no vector/code
        payload — the unavoidable floor for an exact diff without a
        retained generation. Diffing against index content needs no
        retained generation and is self-healing: whatever the index
        holds (drift, duplicate ids from raw appends), one refresh
        converges it to exactly the live (id, vector) set under the
        frozen model.

        Removal-by-rewrite instead of read-side tombstone filtering is
        deliberate: a tombstone anti-join would tax EVERY future search
        while refreshes are rare — pay the write amplification once,
        keep the probe path untouched (and exactly equal to a fresh
        build's, so search parity is structural, not probabilistic).

        Crash safety is the commit protocol's: removal and append write
        fresh directories only, and ONE root swap publishes both with
        the new generation. A crash before it leaves the previous root —
        consistent, searchable with ``allow_stale=True``, stale until
        refreshed — and a re-run starts over from it. Returns
        ``{"appended": n, "removed": n, "gen": live, "drift": {...}}``."""
        from metrique_spark.functions import similarity as _sim

        apath = self._ann_path(cube, name)
        with self._write_lock(cube):
            raw, root = _sim._read_root(self.fs, apath)
            snap = self._resolve(self._path(cube))
            live = snap.gen
            if root.get("gen") == live:
                return {"appended": 0, "removed": 0, "gen": live}
            id_col, vec_col = root["id_col"], root["vec_col"]
            kind = root["kind"]
            newc = self._scan(snap, date=None).select(id_col, vec_col)
            # diff the live corpus against the INDEX'S OWN CONTENT —
            # IVF stores raw vectors (compare directly); the PQ families
            # store a per-row vector fingerprint (__vh, see
            # similarity._vh) — so no retained generation is needed and
            # the refresh is self-healing (a drifted or double-appended
            # id converges back to exactly the live row)
            rows = _sim._frame(self.spark, apath, root)
            if kind == "ivf":
                idx = rows.select(F.col(id_col).alias("__iid"),
                                  F.col("v").alias("__iv"))
                same = ((F.col(id_col) == F.col("__iid"))
                        & F.col(vec_col).cast("array<double>")
                        .eqNullSafe(F.col("__iv")))
            else:
                idx = rows.select(F.col(id_col).alias("__iid"),
                                  F.col("__vh").alias("__ivh"))
                same = ((F.col(id_col) == F.col("__iid"))
                        & (_sim._vh(vec_col) == F.col("__ivh")))
            # changed/new: live rows with no identical (id, vec) in the
            # index; superseded: indexed entries no longer matching a
            # live row — a changed id lands in both (remove + re-append)
            changed = newc.join(idx, same, "left_anti")
            sup = (idx.join(newc, same, "left_anti")
                   .select(F.col("__iid").alias(id_col)).distinct())
            # duplicated ids (raw appends that re-added a live id with
            # the same vector evade the diff — both rows match) get
            # removed wholesale and re-appended once, so one refresh
            # always converges to exactly one row per live id
            dups = (idx.groupBy("__iid").agg(F.count("*").alias("__c"))
                    .where(F.col("__c") > 1)
                    .select(F.col("__iid").alias(id_col)))
            sup = sup.unionByName(dups).distinct()
            changed = (changed.unionByName(
                newc.join(dups.withColumnRenamed(id_col, "__did"),
                          F.col(id_col) == F.col("__did"), "left_semi"))
                .dropDuplicates([id_col]))
            with self._jobs("ann_refresh", "diff"):
                changed = changed.localCheckpoint(eager=True)
                sup = sup.localCheckpoint(eager=True)
                n_add, n_del = changed.count(), sup.count()
            new = root
            if n_del:
                with self._jobs("ann_refresh", "remove"):
                    new = _sim._stage_remove(self.spark, apath, new, sup)
            if n_add:
                with self._jobs("ann_refresh", "append"):
                    new = _sim._stage_append(changed, apath, new, vec_col)
            new = {**new, "gen": live}
            # drift signal over the APPENDED delta (frozen-model refresh
            # never retrains — recall decays silently as the
            # distribution shifts, so measure it): compare the same
            # statistic the build recorded as its baseline, flag
            # rebuild_recommended when the delta falls outside tolerance
            # (higher-is-better centroid_sim: absolute drop > tol,
            # default 0.15; pq_err: relative growth > tol, default 1.0 =
            # doubling; clip_frac: absolute fraction > tol, default
            # 0.05). Cost: one map-only pass over the delta.
            drift = None
            base = (root.get("drift_base") or {}).get("value")
            if drift_tol is None:
                drift_tol = root.get("drift_tol")  # per-index tolerance
            if n_add and base is not None:
                with self._jobs("ann_refresh", "drift"):
                    dm, dv = _sim._index_drift(changed, apath, root,
                                               vec_col)
                if dm == "centroid_sim":
                    tol = 0.15 if drift_tol is None else drift_tol
                    rec = dv is not None and dv < base - tol
                elif dm == "pq_err":
                    tol = 1.0 if drift_tol is None else drift_tol
                    rec = (dv is not None
                           and dv > max(base, 1e-12) * (1.0 + tol))
                else:
                    tol = 0.05 if drift_tol is None else drift_tol
                    rec = dv is not None and dv > tol
                drift = {"metric": dm, "baseline": base, "appended": dv,
                         "tolerance": tol,
                         "rebuild_recommended": bool(rec)}
                if kind in ("ivf", "ivfpq"):
                    # post-refresh inverted-list balance (report-only:
                    # the documented rebuild trigger "bucket sizes
                    # skew", now measured — max/mean over the slim
                    # partition key, one combinable aggregate)
                    with self._jobs("ann_refresh", "skew"):
                        srow = (_sim._frame(self.spark, apath, new)
                                .groupBy(_sim._parts(new)[0]).count()
                                .agg((F.max("count") / F.avg("count"))
                                     .alias("s")).first())
                    if srow["s"] is not None:
                        drift["bucket_skew"] = round(float(srow["s"]), 3)
                new["drift_last"] = drift  # surfaced by vector_index_list
            _sim._publish(self.fs, apath, raw, new)
            out = {"appended": n_add, "removed": n_del, "gen": live}
            if drift is not None:
                out["drift"] = drift
            # refresh epilogue: bound the append-batch growth (the lock
            # is reentrant, so this runs inside the same lease)
            lim = self.auto_compact_index_batches
            if lim and _sim._batch_count(new) > lim:
                out["compacted"] = self.compact_vector_index(cube, name)
            return out

    def drop_vector_index(self, cube: str, name: str) -> bool:
        """Delete an ANN index — committed or crash-stranded — under the
        writer lease: root first (searches immediately refuse), then
        the directory. Returns False when no such index directory
        exists. The inverse of ``build_vector_index``; dropping is the
        documented way to release an index whose column is about to be
        dropped from the cube."""
        apath = self._ann_path(cube, name)
        with self._write_lock(cube):
            snap = self._resolve(self._path(cube))
            have = (snap.root or {}).get("indexes", [])
            entry = {"name": name, "vector": True}
            if entry in have:
                self._republish(snap, indexes=[e for e in have
                                               if e != entry])
            if not self.fs.isdir(apath):
                return False
            self.fs.delete(self.fs.join(apath, "_ann.json"))
            self.fs.delete_dir(apath)
            return True

    def compact_vector_index(self, cube: str, name: str,
                             small_bytes: int | None | object =
                             _FULL_COMPACT) -> int:
        """Consolidate a committed ANN index's append-accumulated
        batches — SIZE-TIERED by default, like ``compact``: every
        ``refresh_vector_index``/append lands one batch of granules (one
        per hit bucket/cluster/``__gbucket``) — an index refreshed
        nightly for a year carries hundreds of granules whose listing
        cost and tiny-file reads degrade every probe. Merges the batches
        at or below ``small_bytes`` (default: the engine's
        ``compact_small_bytes``) into one consolidated batch per parent
        directory; larger consolidated levels stay untouched on disk, so
        the auto-compaction epilogue costs O(recent appends), never
        O(|index|). Pass ``small_bytes=None`` for an explicit FULL
        consolidation (also the cross-level duplicate-id convergence
        path). Codes are copied, never re-encoded; duplicate ids
        collapse within the merged tier. Physical-only: search results
        are identical before and after, and the root's generation is
        untouched (a stale index stays stale).

        Runs under the writer lease and commits like every index write:
        the merged batches land in fresh directories and one root swap
        publishes them and retires the merged granules, so a crash
        leaves the previous root searchable and a re-run starts over.
        Returns the number of granule directories merged away."""
        from metrique_spark.functions import similarity as _sim

        with self._write_lock(cube):
            if small_bytes is Engine._FULL_COMPACT:
                small_bytes = self.compact_small_bytes
            with self._jobs("ann_compact", "merge"):
                return _sim.compact_pq_index(
                    self.spark, self._ann_path(cube, name), fs=self.fs,
                    small_bytes=small_bytes)

    # -- writes -------------------------------------------------------------

    def _write_lock(self, cube: str):
        """Advisory per-cube writer lease (the parquet-warehouse analog of
        the reference's SQLite same-host guard, ``sqlalchemy.py:869-875``):
        a ``.<cube>.lock`` object holding a JSON lease record, acquired
        with a conditional PUT and reclaimed from a dead holder with a
        single compare-and-swap (see ``fs.LeaseLock`` — rename-free, so
        the same protocol runs on an object store). A second writer fails
        fast with ``ConcurrentWriteError`` instead of interleaving
        snapshot merges; a same-host holder whose (pid, start-time) no
        longer exists is reclaimed, and on backends without pid probing a
        ``lock_ttl`` bounds how long a crashed holder blocks writers."""
        import contextlib

        @contextlib.contextmanager
        def _cm():
            if not self.warehouse or cube in self._held_locks:
                yield
                return
            lease = self._lease(cube)
            import time as _time

            deadline = _time.monotonic() + self.lock_wait
            backoff = 0.05
            while True:
                try:
                    lease.acquire()
                    break
                except LeaseHeldError as exc:
                    if _time.monotonic() + backoff > deadline:
                        raise ConcurrentWriteError(
                            f"cube {cube!r} is locked by writer — "
                            "concurrent upserts would interleave "
                            "snapshot merges; retry after the other "
                            "writer finishes, or construct the Engine "
                            f"with lock_wait=<seconds> ({exc})") from exc
                    _time.sleep(backoff)
                    backoff = min(backoff * 2, 1.0)
            self._held_locks.add(cube)
            try:
                yield
            finally:
                self._held_locks.discard(cube)
                lease.release()

        return _cm()

    def _lease(self, cube: str) -> LeaseLock:
        return LeaseLock(self.fs,
                         self.fs.join(self.warehouse, f".{cube}.lock"),
                         ttl=self.lock_ttl)

    # The on-disk format this engine reads and writes: the manifest
    # root's ``format``. 6 made the root the ONLY record of every fact
    # a cube keeps — segment refs, the oid-bucket count on the root and
    # every retained entry (5), plus the layout, the dropped-column
    # registry and the advisory index registry; 7 has the index
    # registry name the cube's ANN indexes too, so no op lists the cube
    # directory to find them. A lower root is refused as an older
    # format, a higher one as a newer engine's.
    _FORMAT = 7
    # The constant fence the first write puts beside the data before
    # anything else: engines at format 6 or older read its
    # ``min_format`` and refuse the cube, and this engine reads it only
    # when there is no root, where it marks a crashed first write
    # (retried as new) apart from older root-less data (refused, kept).
    _LAYOUT_SIDECAR = "_layout.json"
    _FENCE = '{"format": 2, "min_format": 7}'

    def _session_tz(self) -> str:
        return self.spark.conf.get("spark.sql.session.timeZone")

    def _new_layout(self) -> dict:
        """The layout a first write records in the root: this engine's
        period key (with the writing session's zone) and retention."""
        out: dict = {}
        if self.time_partition:
            out["time_partition"] = self.time_partition
            out["time_zone"] = self._session_tz()
        if self.keep_generations:
            out["keep_generations"] = self.keep_generations
        return out

    def vacuum(self, cube: str, scratch_grace: float = 3600.0) -> None:
        """Sweep directories no retained generation references — the
        leftovers of a writer that crashed after its data write but
        before the manifest flip. Normally the NEXT commit sweeps them;
        ``vacuum`` does it on demand (e.g. after a failed bulk import
        on a rarely-written cube) without advancing the generation.
        Runs under the writer lease; refuses a cube in an older on-disk
        format (``_resolve``). Also sweeps every vector-index directory
        down to what its ``_ann.json`` root names: a ``_ann_*`` dir
        without a root is a crashed first BUILD (the build publishes its
        root last) and goes whole; in a committed index, the fresh
        directories a crashed build / refresh / compaction wrote but
        never published go (``similarity._vacuum``). An older-form index
        keeps its data until rebuilt. Also sweeps the warehouse ``_scratch``
        root — reliable-spill directories a crashed sampling job never
        released — but ONLY entries older than ``scratch_grace``
        seconds (default one hour): the scratch root is session-global,
        so an unconditional sweep from any engine sharing the warehouse
        would destroy the in-flight spill of a concurrently RUNNING
        sampling query on another session (it fails loud on re-read,
        never silently wrong — but it shouldn't fail at all). Pass
        ``scratch_grace=0`` to force-sweep everything when you know no
        sampling query is in flight."""
        from metrique_spark.functions import similarity as _sim

        if self.warehouse:
            import time as _time

            scratch = self.fs.join(self.warehouse, "_scratch")
            if self.fs.isdir(scratch):
                cutoff = _time.time() - max(scratch_grace, 0.0)
                for d in self.fs.listdir(scratch):
                    p = self.fs.join(scratch, d)
                    mt = self.fs.mtime(p)
                    if mt is None or mt <= cutoff:
                        self.fs.delete_dir(p)
                if not self.fs.listdir(scratch):
                    self.fs.delete_dir(scratch)
        with self._write_lock(cube):
            path = self._path(cube)
            for d in self.fs.listdir(path):
                if d.startswith("_ann_"):
                    _sim._vacuum(self.fs, self.fs.join(path, d))
            snap = self._resolve(path)  # refuses an older format
            if snap.root is None:
                if self.fs.isdir(path):
                    # crashed FIRST write (fence, no root): nothing is
                    # committed, every data dir is stranded — sweep
                    # them all
                    self._sweep_unreferenced(path, set())
                return
            self._sweep_unreferenced(path,
                                     self._retained_dirs(snap.manifest))
            # manifest segment files stranded by crashed commits
            _vacuum(self.fs, self.fs.join(path, self._MANIFEST_SEGDIR),
                    self._seg_names(snap.root))

    def describe(self, cube: str) -> dict:
        """Zero-scan storage-health report from manifest-root state
        alone — no data listing, no Spark job: the live generation, its
        oid-bucket count (from the manifest root) and the retained
        generation numbers, open/closed directory counts, the live and
        open row totals, the history batch TOKENS with their byte sizes
        (the tier structure size-tiered compaction manages), whether a
        ``compact()`` would merge anything right now
        (``compact_recommended`` — the trickle or a promotion quorum
        qualifies under the engine's ``compact_small_bytes``), whether
        the largest oid bucket has
        outgrown its bucket count (``rebucket_recommended`` —
        runbook: ``rebucket()`` or the incremental doubling), the
        progress of an in-flight doubling migration (``migration``:
        pending dirs/bytes for ``rebucket_step`` scheduling), and the
        committed ANN indexes with staleness flags. The "does this cube
        need maintenance" probe a scheduler can poll per cube at
        manifest-read cost."""
        from metrique_spark.compaction import tier_groups

        snap = self._resolve(self._path(cube))
        root = snap.root
        out: dict = {
            "cube": cube,
            "state": snap.state,
            "layout": {k: snap.layout[k]
                       for k in ("time_partition", "keep_generations")
                       if k in snap.layout},
        }
        if root is None:
            return out
        # every scalar below was rolled up at commit time, so describe
        # costs one small JSON parse — O(segment refs), never O(dirs) —
        # at any cube size; the tier recommendation is evaluated
        # against the READER's threshold from the per-token byte rollup
        rollup = root["rollup"]
        tok = rollup["token_bytes"]
        out.update({
            "generation": root["gen"],
            "oid_buckets": root["oid_buckets"],
            "retained_generations": [h["gen"] for h in
                                     root.get("history", [])],
            "open_dirs": rollup["open_dirs"],
            "closed_dirs": rollup["closed_dirs"],
            "history_tokens": dict(sorted(tok.items(),
                                          key=lambda kv: -kv[1])),
            "history_bytes": sum(tok.values()),
            "small_tokens": sum(s <= self.compact_small_bytes
                                for s in tok.values()),
            "compact_recommended": bool(
                tier_groups(tok, self.compact_small_bytes)),
            "indexes": self._vector_indexes(snap, snap.gen),
            "rows_total": rollup["rows"],
            "rows_open": rollup["rows_open"],
        })
        if rollup.get("migration") is not None:
            out["migration"] = rollup["migration"]
        if "max_bucket_bytes" in rollup:
            out["max_bucket_bytes"] = rollup["max_bucket_bytes"]
            if "migration" not in out:
                # mid-migration the runbook action is already in
                # progress (and old/new vintages sharing a bucket VALUE
                # are different buckets) — no recommendation
                out["rebucket_recommended"] = (
                    rollup["max_bucket_bytes"]
                    > 4 * self.compact_small_bytes)
        return out

    def set_retention(self, cube: str, keep_generations: int) -> None:
        """Change the cube's recorded generation-retention count (takes
        effect at the NEXT commit; lowering it lets that commit sweep
        the excess snapshots). Retention is per-CUBE state, like
        ``oid_buckets``/``time_partition`` — if it lived only in writer
        config, a maintenance job with a default engine would silently
        truncate the history and sweep snapshots someone pinned. The
        manifest root's layout records it: a new root at the same
        generation, published by CAS under the writer lease."""
        if keep_generations < 0:
            raise ValueError("keep_generations must be >= 0")
        with self._write_lock(cube):
            snap = self._resolve(self._path(cube))
            if snap.root is None:
                raise ValueError(
                    f"cube {cube!r} has nothing committed — retention "
                    "applies to committed warehouse cubes only")
            self._republish(snap, layout=dict(
                snap.layout, keep_generations=keep_generations))

    def rebucket(self, cube: str, oid_buckets: int,
                 incremental: bool = False) -> None:
        """Migrate the cube to a different oid-bucket count — the
        managed escape from a first-write count that the data outgrew
        (at 100 TB, 16 buckets means ~6 TB bucket directories: the
        bucket-granular merge, history import and point-lookup prune
        all degrade to near-table cost; this is THE practical
        scale-up failure the fixed layout would otherwise pin forever).

        One full rewrite, one commit: every row is re-hashed into
        ``pmod(xxhash64(_oid), N')`` directories written fresh under the
        next generation (open rows in ``open-g{gen}``, closed history in
        a gen-scoped ``rb-g{gen}`` batch — never a content token, which
        identical content would collide with a LIVE directory), and the
        manifest flip publishes the new count in the manifest root —
        the count's only record — atomically with the directories it
        applies to. Every later flip carries it forward; retained
        generations keep their own count for time-travel pruning
        (``_push_history``). Every cube is oid-bucketed, so a
        single-bucket cube (``oid_buckets=1``) grows the same way; no
        format changes here.

        Content is invariant (physical-only, like compaction); a crash
        before the flip leaves readers on the old generation and the
        stranded directories are swept by the next commit or vacuum;
        the generation advance runs the auto-refresh index epilogue like
        every other commit.

        This is a FULL rewrite — at 100 TB, one (embarrassingly
        parallel) pass over the cube, scheduled like any other bulk
        maintenance. When even that one window is too much,
        ``incremental=True`` starts a DOUBLING migration (N → 2N only)
        instead — the linear-hashing idea (Litwin 1980: split one
        bucket at a time under a doubled modulus, address under both
        until the split round completes) applied to partition
        directories: ``pmod(h, 2N) ∈ {pmod(h, N), pmod(h, N) + N}`` means
        each old bucket splits independently, so the start commit is
        METADATA-ONLY — it records the new live count plus a
        ``migration`` block naming the directories still at the old
        modulus, and no data moves. From then on (a) reads union-prune
        point lookups under both moduli (``_Snapshot.moduli`` — sound
        whichever vintage a directory is), (b) every merge, history
        import and compaction that rewrites an old directory migrates
        it as a side effect (the rewrite uses the live modulus and the
        manifest carry rule retires the directory from
        ``migration.old_dirs``), and (c) ``rebucket_step`` migrates the
        remainder in byte-bounded background chunks. The migration
        completes when ``old_dirs`` empties. Crash anywhere =
        any other commit crash: the flip is the commit point and a
        half-migrated cube is a fully valid state indefinitely."""
        _check_buckets(oid_buckets)
        if incremental:
            self._rebucket_start_incremental(cube, oid_buckets)
            return
        with self._write_lock(cube):
            snap = self._resolve(self._path(cube), write=True)
            if snap.root is None:
                raise ValueError(
                    f"cube {cube!r} is new — rebucket needs a "
                    "committed cube")
            if (snap.root["oid_buckets"] == oid_buckets
                    and not snap.manifest.get("migration")):
                # already at this count. With a migration in flight,
                # fall through: the full rewrite below is the escape
                # hatch that finishes it in one pass and clears the
                # migration block.
                return
            gen = snap.gen + 1
            # internal keys dropped; re-derived. localCheckpoint: the
            # write lands under the same root the plan reads from
            # (fresh relpaths, but Spark's self-overwrite check is
            # path-based), and a retry must not recompute from
            # directories the write is mutating
            with self._jobs("rebucket", "checkpoint"):
                rows = (self._scan(snap).drop("_current", *_INTERNAL)
                        .localCheckpoint(eager=True))
            new_rels = self._write_dirs(
                rows, snap, oid_buckets, snap.timepart, op="rebucket",
                open_batch=f"open-g{gen}", closed_batch=f"rb-g{gen}")
            self._auto_refresh_indexes(cube, snap, self._commit(
                snap, set(new_rels), new_rels, oid_buckets=oid_buckets,
                migration=None))

    def _rebucket_start_incremental(self, cube: str,
                                    oid_buckets: int) -> None:
        """Start a doubling migration (``rebucket(incremental=True)``):
        one METADATA-ONLY commit — the manifest's live count becomes
        ``2N`` and every directory still at the old modulus gets a
        per-directory modulus STAMP in the segmented manifest; zero
        bytes of data move. Doublings CHAIN: starting another one
        mid-migration is legal — directories already stamped keep
        their (older) modulus, the rest get stamped at the
        pre-doubling live count, and reads union-prune under every
        modulus present (``_Snapshot.moduli``), so growing 16 → 1024
        is six starts whose drains overlap freely instead of six
        fully-sequential windows. The root's count becomes ``2N`` at
        the start; the stamps name the older moduli until they
        drain."""
        with self._write_lock(cube):
            snap = self._resolve(self._path(cube))
            if snap.root is None:
                raise ValueError(
                    f"cube {cube!r} is new — rebucket needs a "
                    "committed cube")
            meta = snap.manifest
            cur = meta["oid_buckets"]
            if cur == oid_buckets:
                return  # already at / already migrating to this target
            if oid_buckets != 2 * cur:
                raise ValueError(
                    f"incremental rebucket supports DOUBLING only "
                    f"({cur} -> {2 * cur}); got target {oid_buckets}. "
                    "Chain doublings (each start is metadata-only and "
                    "they drain concurrently), or use a full rebucket")
            blocks = meta.get("migration") or []
            stamped = {d for b in blocks for d in b["old_dirs"]}
            old_dirs = sorted(d for d in meta["dirs"] if d not in stamped)
            if not old_dirs and not blocks:
                raise RuntimeError(
                    f"cube {cube!r} has no directories to migrate")
            self._commit(snap, set(meta["dirs"]), None,
                         oid_buckets=oid_buckets,
                         migration=({"from": cur, "old_dirs": old_dirs}
                                    if old_dirs else Engine._CARRY))

    def rebucket_step(self, cube: str, max_bytes: int | None = None,
                      max_dirs: int | None = None) -> dict:
        """Migrate a bounded chunk of a doubling migration's remaining
        old-modulus directories (see ``rebucket(incremental=True)``):
        picks up to ``max_bytes`` worth (manifest-recorded sizes, no
        listing) or ``max_dirs`` of ``migration.old_dirs`` — at least
        one, all of them when unbounded — reads EXACTLY those
        directories, rewrites their rows under the live modulus into
        fresh generation-scoped directories (open rows to
        ``open-g{gen}``, closed to ``mig-g{gen}``), and commits. The
        carry rule retires the chunk from ``old_dirs``; when the last
        old directory goes, the migration is complete. Each step is one
        ordinary commit: bounded I/O (O(chunk), never O(cube)),
        snapshot-isolated, crash-convergent (a retry rewrites the same
        gen-scoped directories), and safely interleavable with
        upserts/imports/compactions — which migrate whatever they touch
        on their own. Returns
        ``{"migrated_dirs", "migrated_bytes", "remaining_dirs",
        "done"}``."""
        with self._write_lock(cube):
            path = self._path(cube)
            snap = self._resolve(path, write=True)
            if snap.root is None:
                raise ValueError(
                    f"cube {cube!r} is new — no migration to step")
            meta = snap.manifest
            blocks = meta.get("migration") or []
            if not blocks:
                return {"migrated_dirs": 0, "migrated_bytes": 0,
                        "remaining_dirs": 0, "done": True}
            sizes = meta["stats"]["bytes"]
            live = set(meta["dirs"])
            # oldest modulus first: draining the oldest block shrinks
            # the union-prune's moduli set soonest under chained
            # doublings (any order is correct — every rewrite lands at
            # the LIVE modulus)
            pending = [d for b in blocks for d in b["old_dirs"]
                       if d in live]
            if not pending:
                # defensive: the carry rule drops the migration block
                # when old_dirs empties, so this state needs a
                # hand-edited manifest — treat as complete, don't build
                # a zero-path read
                return {"migrated_dirs": 0, "migrated_bytes": 0,
                        "remaining_dirs": 0, "done": True}
            chunk: list[str] = []
            used = 0
            for d in pending:
                b = sizes[d]
                if chunk and max_bytes is not None \
                        and used + b > max_bytes:
                    continue  # keep scanning: a smaller dir may fit
                chunk.append(d)
                used += b
                if max_dirs is not None and len(chunk) >= max_dirs:
                    break
            gen = snap.gen + 1
            rows = self._read_dirs(path, meta["schema"], chunk).drop(
                "_current", *_INTERNAL)
            # localCheckpoint: the write lands under the same root the
            # plan reads from, and a retry must not recompute from
            # directories the write is mutating
            with self._jobs("rebucket_step", "checkpoint"):
                rows = rows.localCheckpoint(eager=True)
            new_rels = self._write_dirs(
                rows, snap, meta["oid_buckets"], snap.timepart,
                op="rebucket_step", open_batch=f"open-g{gen}",
                closed_batch=f"mig-g{gen}")
            dirs = (live - set(chunk)) | set(new_rels)
            self._auto_refresh_indexes(
                cube, snap, self._commit(snap, dirs, new_rels))
            remaining = len({d for b in blocks
                             for d in b["old_dirs"]} & dirs)
            return {"migrated_dirs": len(chunk), "migrated_bytes": used,
                    "remaining_dirs": remaining,
                    "done": remaining == 0}

    # -- generation-pointer manifest (snapshot-isolated commits) -------------
    #
    # Same protocol the streaming sinks use (streaming/events.py:30-98):
    # a ``_manifest.json`` sidecar names the cube's current generation and
    # the exact set of data directories belonging to it. Every mutating
    # operation (1) writes its output into NEW directories only — never
    # into a directory the live manifest references — (2) flips the
    # pointer with ONE compare-and-swap PUT, then (3) sweeps exactly the
    # directories this commit retired (prior-retained minus
    # new-retained — known from the two manifests, no listing; strands
    # of CRASHED attempts are invisible and left for vacuum's listing
    # sweep). Readers resolve paths from the manifest, never listings,
    # so the flip is the commit point: a concurrent reader sees exactly
    # the old or exactly the new generation — the transient mixed
    # old+new-version window of the in-place two-step commit is gone.
    # Crash convergence: a retry recomputes the same generation number
    # (the pointer didn't move) and overwrites the same not-yet-referenced
    # directories; stranded directories are invisible and swept by the
    # next successful commit.

    _MANIFEST_SIDECAR = "_manifest.json"
    # Segmented manifest (format 7, the only manifest form): the root
    # sidecar stays the single CAS commit point but holds only the
    # generation, the oid-bucket count, the cube's layout and
    # registries, rolled-up stats, and REFERENCES
    # into ``_manifest_seg/`` — one immutable JSON segment per oid-bucket
    # RANGE carrying that range's directory list, per-directory stats,
    # and per-directory old-modulus stamps. A commit serializes only
    # the segments whose content changed (unchanged ranges carry
    # forward by filename reference, like data directories), so
    # per-commit manifest bytes are
    # O(touched buckets), not O(cube) — the monolithic manifest was the
    # one measured super-linear per-commit cost at 100 TB directory
    # counts (tens of MB re-serialized per 2-row trickle commit).
    # Retained generations reference THEIR segment files; a flip
    # deletes by name only the files the prior root named and no
    # retained generation still does. Segment files are immutable once
    # their root commits, so parses are cached per filename.
    _MANIFEST_SEGDIR = "_manifest_seg"
    _SEG_SPAN = 64  # oid-bucket values per segment file

    def _read_sidecar(self, path: str, name: str) -> str | None:
        """One GET of a cube sidecar, None when absent — no existence
        probe first, which would double the control calls on an object
        store (``FileSystem.read_text`` raises FileNotFoundError)."""
        try:
            return self.fs.read_text(self.fs.join(path, name))
        except FileNotFoundError:
            return None

    def _manifest_raw(self, path: str) -> str | None:
        return self._read_sidecar(path, self._MANIFEST_SIDECAR)

    def _resolve(self, path: str, generation: int | None = None,
                 write: bool = False) -> _Snapshot:
        """THE resolution of a cube: one GET of the manifest root and
        nothing else until a fact is used — every public op reads and
        commits from the one ``_Snapshot`` this returns (see there), so
        no op can take its generation, directories, moduli, schema and
        layout from two different roots. The plan-time swept-generation
        retry calls this again for a whole new snapshot.

        The engine reads exactly one on-disk format: a format-7
        manifest root (``_manifest_root``), whose ``format`` is the
        fence — an older root is refused with ``_old_format_error``, a
        newer one raises the upgrade error. No root means ``new``:
        absent, or a crashed first write whose root never landed (its
        ``_layout.json`` fence is there, read only in this case). Data
        under no root and no fence — no sidecar, or an older one — is
        COMMITTED data from an older format: refused and never swept
        (a first-write retry would publish a root naming only the new
        batch and delete every existing directory). A ``generation`` the root does not retain
        raises ValueError.

        ``__stime`` values are wall-clock renderings in the WRITING
        session's zone, so the recorded zone is part of the layout: a
        reader in another zone skips the period prune (``timepart``
        None; the row predicate is zone-exact either way), and a
        ``write=True`` resolution raises instead of filing rows into
        inconsistent period directories."""
        raw = self._manifest_raw(path)
        root = None if raw is None else self._manifest_root(path, raw)
        if root is None:
            fenced = self._read_sidecar(
                path, self._LAYOUT_SIDECAR) == self._FENCE
            if not fenced and any(d.startswith("_current=")
                                  for d in self.fs.listdir(path)):
                raise _old_format_error(path, "data without a manifest root")
            return _Snapshot(self, path, None, None, generation, None)
        if generation is not None:
            have = [root["gen"]] + [h["gen"]
                                    for h in root.get("history", [])]
            if generation not in have:
                raise ValueError(
                    f"generation {generation} of cube {path!r} is "
                    f"expired or unknown; retained: {sorted(have)} "
                    "(raise Engine(keep_generations=...) to retain more)")
        layout = root.get("layout", {})
        tp, tz = layout.get("time_partition"), layout.get("time_zone")
        if tp is not None and tz != self._session_tz():
            if write:
                raise RuntimeError(
                    f"cube at {path!r} is time-partitioned in timezone "
                    f"{tz!r} but the session timezone is "
                    f"{self._session_tz()!r} — writing would file rows "
                    "into inconsistent period directories; set "
                    "spark.sql.session.timeZone to the cube's zone")
            tp = None
        return _Snapshot(self, path, raw, root, generation, tp)

    def _republish(self, snap: _Snapshot, **facts) -> None:
        """Publish ``snap``'s root again at the same generation with
        some cube-level ``facts`` replaced (``layout``, ``indexes``):
        one CAS against the snapshot's root text, under the writer
        lease; nothing is retired."""
        import json

        publish(self.fs, snap.path, self._MANIFEST_SIDECAR,
                json.dumps({**snap.root, **facts}), snap.raw)

    def _commit(self, snap: _Snapshot, dirs: set[str],
                new_stats: dict | None, *, schema: dict | None = None,
                **flip_kw) -> int:
        """The commit tail every writer of a committed cube runs on its
        snapshot: retain the superseded generation under the cube's
        recorded retention, flip the pointer (CAS against the
        snapshot's root text; ``schema`` defaults to the snapshot's),
        then delete — without listing — the directories and segment
        files the flip retired. Returns the generation it published."""
        meta = snap.manifest
        gen = snap.gen + 1
        hist = self._push_history(meta, snap.keep)
        self._manifest_flip(
            snap.path, snap.raw, gen, dirs, hist,
            stats=self._merged_stats(meta, new_stats, dirs, hist),
            schema=meta["schema"] if schema is None else schema,
            dropped=self._retained_dirs(meta) - dirs.union(
                *(h["dirs"] for h in hist)),
            **flip_kw)
        return gen

    def _manifest_root(self, path: str,
                       raw: str | None = None) -> dict | None:
        """Parse (only) the manifest ROOT sidecar — O(segments), not
        O(dirs): enough for describe()/metadata-count rollups and the
        CAS protocol. ``_manifest`` assembles the full flat dict from
        it. Only a format-7 root is read: segment refs and an
        ``oid_buckets`` count on the root and on every retained
        generation, a ``schema``, and a rollup with the per-token byte
        and row totals (every directory a root names carries its
        ``rows`` and ``bytes``). A lower format, or a root whose rollup
        lacks those totals, is an older cube — refused, its data kept;
        a higher format is a newer engine's and raises the upgrade
        error."""
        import json

        if raw is None:
            raw = self._manifest_raw(path)
        if raw is None:
            return None
        try:
            root = json.loads(raw)
        except ValueError as e:
            raise RuntimeError(
                f"unreadable cube manifest {path!r}/_manifest.json: {e} — "
                "refusing to fall back to a listing read") from e
        if not isinstance(root, dict) or (
                "dirs" not in root and "segs" not in root):
            raise RuntimeError(
                f"malformed cube manifest in {path!r} — refusing to fall "
                "back to a listing read")
        fmt = root.get("format")
        if isinstance(fmt, int) and fmt > self._FORMAT:
            raise RuntimeError(
                f"cube at {path!r} requires on-disk format {fmt} but this "
                f"engine supports up to {self._FORMAT} — touching it could "
                "corrupt it (e.g. merging a rebucketed or mid-migration "
                "cube with the wrong modulus); upgrade the engine")
        if root.get("schema") is None:
            raise _old_format_error(path, "manifest root without a schema")
        if fmt != self._FORMAT or any(
                "segs" not in e or "oid_buckets" not in e
                for e in [root, *root.get("history", [])]):
            raise _old_format_error(
                path, f"manifest root format {fmt}, not {self._FORMAT}")
        rollup = root.get("rollup") or {}
        if "token_bytes" not in rollup or "rows" not in rollup:
            raise _old_format_error(
                path, "manifest root without directory size totals")
        return root

    @classmethod
    def _seg_key(cls, rel: str) -> str:
        """The manifest segment a directory belongs to: its oid-bucket
        VALUE range (``b{value // span}``) — the same key whatever the
        directory's modulus vintage, so a point lookup's pruned bucket
        values name exactly the segments worth loading."""
        v = rel.split("/")[1].removeprefix("__obucket=")
        return f"b{int(v) // cls._SEG_SPAN:05d}"

    def _load_segment(self, path: str, fname: str) -> dict:
        full = self.fs.join(path, self._MANIFEST_SEGDIR, fname)
        seg = self._seg_cache.get(full)
        if seg is None:
            import json

            seg = json.loads(self.fs.read_text(full))
            self._seg_cache[full] = seg
        return seg

    def _assembled(self, path: str, raw: str, root: dict) -> dict:
        """``_assemble`` of the root parsed from ``raw``, cached per
        path keyed by that exact text: a commit changes the root, so
        staleness is impossible, and segment content behind an
        unchanged root is immutable. Treat it as READ-ONLY."""
        cached = self._meta_cache.get(path)
        if cached is not None and cached[0] == raw:
            return cached[1]
        meta = self._assemble(path, root)
        self._meta_cache[path] = (raw, meta)
        return meta

    def _assemble(self, path: str, root: dict) -> dict:
        """The flat manifest dict every consumer reads —
        ``{gen, dirs, stats, schema, oid_buckets, history, migration}``
        — assembled from the segmented root and its segment files.
        Wall-clock stats (``max_end``/``min_start``) are taken only from
        segments recorded under the root's commit timezone — the
        assembled ``stats.tz`` then names that zone, and readers in
        another zone skip (never misapply) them; byte/row stats are
        tz-independent and always fold. ``migration`` assembles
        from the per-directory modulus stamps into per-modulus blocks
        ``[{"from": N, "old_dirs": [...]}, ...]`` (oldest modulus
        first) — the shape every merge/drain path consumes."""
        tz = root.get("tz")
        dirs: list[str] = []
        me: dict = {}
        ms: dict = {}
        by: dict = {}
        rw: dict = {}
        stamps: dict[str, int] = {}

        def fold(segrefs: dict, live: bool) -> list[str]:
            got: list[str] = []
            for key in sorted(segrefs):
                seg = self._load_segment(path, segrefs[key])
                got.extend(seg["dirs"])
                if live:
                    for d, m in (seg.get("moduli") or {}).items():
                        stamps[d] = m
                st = seg.get("stats") or {}
                if st.get("tz") == tz:
                    for d, v in (st.get("max_end") or {}).items():
                        me.setdefault(d, v)
                    for d, v in (st.get("min_start") or {}).items():
                        ms.setdefault(d, v)
                for d, v in (st.get("bytes") or {}).items():
                    by.setdefault(d, v)
                for d, v in (st.get("rows") or {}).items():
                    rw.setdefault(d, v)
            return got

        dirs = fold(root["segs"], live=True)
        meta: dict = {"gen": root["gen"], "dirs": sorted(dirs),
                      "schema": root["schema"],
                      "oid_buckets": root["oid_buckets"]}
        hist_out: list[dict] = []
        for h in root.get("history", []):
            e = {k: h[k] for k in ("gen", "oid_buckets", "moduli",
                                   "schema") if k in h}
            e["dirs"] = sorted(fold(h["segs"], live=False))
            hist_out.append(e)
        if hist_out:
            meta["history"] = hist_out
        if me or ms or by or rw:
            st_out: dict = {"tz": tz, "max_end": me, "min_start": ms}
            if by:
                st_out["bytes"] = by
            if rw:
                st_out["rows"] = rw
            meta["stats"] = st_out
        if "rollup" in root:
            meta["rollup"] = root["rollup"]
        if stamps:
            by_mod: dict[int, list[str]] = {}
            for d, m in stamps.items():
                by_mod.setdefault(m, []).append(d)
            meta["migration"] = [
                {"from": m, "old_dirs": sorted(ds)}
                for m, ds in sorted(by_mod.items())]
        return meta

    def _manifest(self, path: str) -> dict | None:
        """The assembled live manifest of a fresh resolution, or None
        when nothing is committed — for callers outside an op (the test
        and scaling harnesses); every op reads its own snapshot."""
        snap = self._resolve(path)
        return None if snap.root is None else snap.manifest

    def _push_history(self, meta: dict, keep: int) -> list[dict]:
        """History entries for the NEXT manifest: the superseded current
        generation first, then the previously retained ones, truncated
        to ``keep`` — the CUBE's recorded retention (the root's layout),
        not this writer's config, so a maintenance engine with default
        settings cannot silently truncate pinned snapshots."""
        if not keep:
            return []
        # a retained generation keeps ITS OWN bucket count: after a
        # rebucket, a time-travel point lookup of the old snapshot must
        # prune with the modulus its directories were hashed under, not
        # the live one
        cur: dict = {"gen": meta["gen"], "dirs": meta["dirs"],
                     "oid_buckets": meta["oid_buckets"]}
        if meta.get("migration"):
            # mid-migration generations keep their moduli SET: a
            # time-travel point lookup of a mixed-modulus snapshot must
            # union-prune under every modulus its directories were
            # hashed under (the old_dirs lists themselves are not
            # needed for reads — only the moduli)
            cur["moduli"] = sorted({b["from"]
                                    for b in meta["migration"]})
        # each retained generation keeps ITS OWN read schema: after a
        # schema evolution, a time-travel read of an old snapshot must
        # reproduce exactly the frame a job saw then — not the union
        # schema with phantom null columns
        cur["schema"] = meta["schema"]
        # the entries are shared with the cached assembled manifest
        # (see _assembled): read-only, like it
        return [cur, *meta.get("history", [])][:keep]

    @staticmethod
    def _retained_dirs(meta: dict) -> set[str]:
        """Directories referenced by any RETAINED generation (current +
        history) — the set no writer may overwrite and no sweep may
        delete."""
        dirs = set(meta["dirs"])
        for h in meta.get("history", []):
            dirs.update(h["dirs"])
        return dirs

    def _merged_stats(self, meta: dict | None,
                      new_stats: dict[str, dict[str, str | None]] | None,
                      dirs: set[str],
                      history: list[dict] | None) -> dict:
        """The ``stats`` block for the next manifest: per-directory
        stats carried forward for every retained directory and extended
        with this commit's writes. ``rows`` and ``bytes`` are recorded
        for every directory. Prior ``max_end``/``min_start`` recorded
        under a DIFFERENT session timezone are dropped, not converted —
        the strings are wall-clock renderings, and a reader only
        consults stats whose recorded zone matches its own session
        (skipped, not wrong, on mismatch — same contract as the
        ``__stime`` prune)."""
        tz = self._session_tz()
        prior = (meta or {}).get("stats") or {}
        end_m: dict[str, str] = {}
        start_m: dict[str, str] = {}
        if prior.get("tz") == tz:
            end_m.update(prior.get("max_end") or {})
            start_m.update(prior.get("min_start") or {})
        # per-directory byte sizes (the tiered-compaction level
        # classifier) and row counts (the metadata-only count) are
        # tz-independent: always carried forward
        bytes_m: dict[str, int] = dict(prior.get("bytes") or {})
        rows_m: dict[str, int] = dict(prior.get("rows") or {})
        for d, v in (new_stats or {}).items():
            if v.get("max_end") is not None:
                end_m[d] = v["max_end"]
            else:
                end_m.pop(d, None)  # rewritten as an open dir
            if v.get("min_start") is not None:
                start_m[d] = v["min_start"]
            else:
                start_m.pop(d, None)
            bytes_m[d] = v["bytes"]
            rows_m[d] = v["rows"]
        retained = sorted(set(dirs) | {d for h in (history or [])
                                       for d in h["dirs"]})
        return {"tz": tz,
                "max_end": {d: end_m[d] for d in retained if d in end_m},
                "min_start": {d: start_m[d] for d in retained
                              if d in start_m},
                "bytes": {d: bytes_m[d] for d in retained},
                "rows": {d: rows_m[d] for d in retained}}

    _CARRY = object()  # _manifest_flip: keep the prior manifest's value

    def _manifest_flip(self, path: str, old_raw: str | None,
                       gen: int, dirs: set[str],
                       history: list[dict] | None = None,
                       stats: dict | None = None, *,
                       schema: dict,
                       oid_buckets: int | object = _CARRY,
                       migration: dict | None | object = _CARRY,
                       dropped=(), facts: dict | None = None) -> None:
        """The commit point: ONE atomic pointer write through
        ``fs.publish`` — a CAS against the text read at operation start
        (under the writer lease this only fails if a TTL-expired zombie
        writer raced us; fail loud), then the ``dropped`` directories
        (what the prior generations retained and this one does not) and
        the segment files only the prior root named go by name, without
        listing the tree: at 100 TB the per-commit tree LIST would be
        the last O(cube) metadata op in the commit path. A dropped
        directory's parent is listed only when no directory this root
        or a generation it retains names lies under it. Crash-stranded
        directories and segment files are left for ``vacuum``.

        The root is the only record of the cube-level facts —
        ``layout`` (period key and zone, retention), the ``dropped``
        column registry and the ``indexes`` registry (advisory and ANN
        indexes). Every flip
        carries them forward from the prior root (a first flip records
        this engine's layout); ``facts`` replaces some of them in the
        same CAS (``drop_column``'s registry entry).

        Every cube commits the SEGMENTED layout (format 7): the
        directory list and per-directory stats are re-grouped into
        per-bucket-range segment files, only segments whose content
        changed are serialized (to fresh gen-scoped filenames — a
        crash-retry of the same generation overwrites the same
        not-yet-referenced files), unchanged ranges carry forward by
        filename reference, and the tiny root — generation, oid-bucket
        count, segment refs, rolled-up stats — is the CAS payload.
        Per-commit manifest bytes are therefore O(touched buckets); the
        root also carries the rollup ``describe()`` and the
        metadata-only ``count()`` answer from without loading any
        segment.

        ``schema`` is the generation's authoritative read schema (data
        columns + directory-encoded partition columns, StructType JSON):
        readers pass it to the parquet scan instead of sampling file
        footers, which (a) makes schema EVOLUTION sound — files written
        before a column existed read back as typed nulls instead of the
        footer-picked-at-random roulette — and (b) skips the footer
        schema-merge job entirely at plan time (at 100 TB a listing of a
        million files never needs a schema-inference pass).

        ``migration`` carries the in-flight doubling migration(s) as
        per-directory old-modulus STAMPS (see
        ``rebucket(incremental=True)``): the default carries every
        stamped directory that survives into this generation forward —
        a commit that rewrites an old directory (merge, import,
        compact, migration step) thereby migrates it, because the
        rewrite used the live modulus and the vanished relpath drops
        its stamp; new directories are never stamped. Explicit None
        clears every stamp (full rebucket); an explicit
        ``{"from": N, "old_dirs": [...]}`` dict ADDS stamps for a newly
        started doubling on top of the carried ones (chained
        migrations). The stamps live in the segment files; the root
        keeps only the rolled-up moduli/pending summary. When the last
        stamp drains, the migration is complete.

        ``oid_buckets`` is the generation's bucket count, recorded in
        the root and nowhere else: the first write and ``rebucket`` set
        it (atomically with the directories it applies to); every other
        flip carries the prior root's value forward."""
        import json

        prior_root = json.loads(old_raw) if old_raw else {}
        # the caller's snapshot assembled exactly this root text: the
        # cache hands it back without a second O(dirs) fold
        prior = (self._assembled(path, old_raw, prior_root) if old_raw
                 else {})
        if oid_buckets is Engine._CARRY:
            oid_buckets = prior["oid_buckets"]
        carried = {d: b["from"] for b in (prior.get("migration") or [])
                   for d in b["old_dirs"] if d in dirs}
        if migration is Engine._CARRY:
            stamps = carried
        elif migration is None:
            stamps = {}
        else:
            stamps = carried
            stamps.update({d: migration["from"]
                           for d in migration["old_dirs"]
                           if d in dirs and d not in carried})
        body: dict = {"gen": gen, "oid_buckets": oid_buckets}
        self._flip_build_segmented(path, prior_root, gen, dirs, history,
                                   stats, schema, stamps, body)
        carried = ({k: prior_root[k] for k in ("layout", "dropped",
                                               "indexes")
                    if k in prior_root} if old_raw
                   else {"layout": self._new_layout()})
        body.update(carried, **(facts or {}))
        # superseded segment files: named by the prior root, by neither
        # this one nor a generation it retains
        segs = {self.fs.join(self._MANIFEST_SEGDIR, f)
                for f in self._seg_names(prior_root)
                - self._seg_names(body)}
        # the first flip is a CAS too (put-if-absent): two racing first
        # writers (TTL-expired zombie vs reclaimer) must not both
        # "succeed" — the loser's sweep would delete the winner's
        # directories while the surviving manifest references them
        publish(self.fs, path, self._MANIFEST_SIDECAR, json.dumps(body),
                old_raw, set(dropped) | segs,
                kept=set(dirs).union(*(h["dirs"] for h in history or ())))
        for f in segs:
            self._seg_cache.pop(self.fs.join(path, f), None)

    def _flip_build_segmented(self, path: str, prior_root: dict,
                              gen: int, dirs: set[str],
                              history: list[dict] | None,
                              stats: dict | None, schema: dict,
                              stamps: dict[str, int],
                              body: dict) -> None:
        """Build the format-7 root ``body`` in place and write the
        changed segment files (BEFORE the CAS — stranded ones are
        invisible until a root references them and are swept by
        ``vacuum``)."""
        import json

        st = stats or {}
        tz = st.get("tz") or self._session_tz()
        per_seg: dict[str, dict] = {}
        for d in sorted(dirs):
            per_seg.setdefault(self._seg_key(d),
                               {"dirs": []})["dirs"].append(d)
        for k, s in per_seg.items():
            seg_st: dict = {"tz": tz}
            for field in ("max_end", "min_start", "bytes", "rows"):
                src = st.get(field) or {}
                sub = {d: src[d] for d in s["dirs"] if d in src}
                if sub:
                    seg_st[field] = sub
            if len(seg_st) > 1:
                s["stats"] = seg_st
            mod = {d: stamps[d] for d in s["dirs"] if d in stamps}
            if mod:
                s["moduli"] = mod
        prior_segs = prior_root.get("segs") or {}
        seg_refs: dict[str, str] = {}
        for k, s in per_seg.items():
            pf = prior_segs.get(k)
            if pf is not None and self._load_segment(path, pf) == s:
                seg_refs[k] = pf  # unchanged range: carry by reference
                continue
            import hashlib

            txt = json.dumps(s)
            # CONTENT-ADDRESSED name (gen prefix for debuggability):
            # same name ⇒ same bytes, everywhere and forever — so the
            # per-filename parse cache is sound across engines, across
            # drop-and-recreate of the cube, and across a TTL-expired
            # zombie losing the CAS race; a crash-retry with identical
            # input rewrites the identical file, and one with changed
            # input writes a NEW name whose stranded predecessor
            # vacuum retires
            h = hashlib.md5(txt.encode()).hexdigest()[:10]
            fname = f"g{gen:08d}-{k}-{h}.json"
            full = self.fs.join(path, self._MANIFEST_SEGDIR, fname)
            self.fs.write_text(full, txt)
            seg_refs[k] = fname
        body["format"] = self._FORMAT
        body["tz"] = tz
        body["segs"] = seg_refs
        body["schema"] = schema
        # a retained generation keeps the segment refs it was committed
        # with: every history entry is the prior root or one it retained
        prior_refs = {h["gen"]: h["segs"]
                      for h in prior_root.get("history", [])}
        prior_refs[prior_root.get("gen")] = prior_segs
        hist_out: list[dict] = []
        for h in history or []:
            e = {k: h[k] for k in ("gen", "oid_buckets", "moduli",
                                   "schema") if k in h}
            e["segs"] = prior_refs[h["gen"]]
            hist_out.append(e)
        if hist_out:
            body["history"] = hist_out
        body["rollup"] = self._flip_rollup(dirs, st, stamps)

    def _flip_rollup(self, dirs: set[str], st: dict,
                     stamps: dict[str, int]) -> dict:
        """Root-level rolled-up stats, computed once per commit from
        the merged per-directory stats already in hand: everything
        ``describe()`` and the metadata-only ``count()`` report, so
        both answer from the root alone — O(segment refs), not
        O(dirs) — at any cube size. ``token_bytes`` (per history-batch
        byte totals, the size-tiered level structure) lets describe
        evaluate ``tier_groups`` under the READER's threshold; with
        compaction on its size is O(levels). Per-bucket byte maxima
        exclude old-modulus (stamped) directories — two vintages
        sharing a bucket VALUE are different buckets, and summing them
        would over-trigger ``rebucket_recommended`` mid-migration."""
        rows_map, bytes_map = st.get("rows") or {}, st.get("bytes") or {}
        open_d = [d for d in dirs if d.startswith("_current=true")]
        rollup: dict = {"dirs": len(dirs), "open_dirs": len(open_d),
                        "closed_dirs": len(dirs) - len(open_d),
                        "rows": sum(rows_map[d] for d in dirs),
                        "rows_open": sum(rows_map[d] for d in open_d)}
        tok: dict[str, int] = {}
        bb: dict[str, int] = {}
        for d in dirs:
            if not d.startswith("_current=true"):
                t = self._batch_dir_token(d)
                tok[t] = tok.get(t, 0) + bytes_map[d]
            if d not in stamps:
                seg = d.split("/")[1]
                bb[seg] = bb.get(seg, 0) + bytes_map[d]
        rollup["token_bytes"] = tok
        if bb:
            rollup["max_bucket_bytes"] = max(bb.values())
        if stamps:
            rollup["migration"] = {
                "from": sorted(set(stamps.values())),
                "pending_dirs": len(stamps),
                "pending_bytes": sum(bytes_map[d] for d in stamps)}
        return rollup

    @staticmethod
    def _seg_names(root: dict) -> set[str]:
        """Segment files a root names: its live refs plus every
        retained generation's."""
        return {f for e in [root, *root.get("history", [])]
                for f in (e.get("segs") or {}).values()}

    def _sweep_unreferenced(self, path: str, keep: set[str]) -> None:
        """Delete data directories the live manifest does not reference
        — superseded OR stranded by crashed attempts. This is the
        LISTING sweep (``fs.vacuum`` over the ``_current=`` trees; the
        sidecars and index directories beside them stay): it runs only
        where that is cheap or necessary (first write, ``vacuum``);
        ordinary commits drop by name through ``fs.publish``. Runs
        under the writer lease — only the writer lists; readers never
        do."""
        _vacuum(self.fs, path, keep | {d for d in self.fs.listdir(path)
                                       if not d.startswith("_current=")})

    def _write_dirs(
        self, rows: DataFrame, snap: _Snapshot, buckets: int,
        timepart: str | None, *, op: str, open_batch: str | None = None,
        closed_batch: str | None = None,
        live: set[str] | frozenset[str] = frozenset(),
        one_partition: bool = False,
    ) -> dict[str, dict[str, str | int | None]]:
        """The one data write every commit kind makes: ONE stats-and-
        token aggregate, then ONE partitioned write of open and closed
        rows together. ``one_partition`` (the caller's
        ``_one_partition`` verdict on its input) runs the aggregate over
        one partition: no exchange, so one Spark job instead of AQE's
        map-stage job plus the result job; the write keeps the rows'
        own partitioning either way. Returns the stats of each
        manifest-relative directory the commit references for these
        rows: ``rows``, ``min_start``, ``max_end`` (None for open
        directories) and ``bytes``. The time stats and row counts come
        from the DATA; the sizes from one ``fs.du`` per directory,
        whose error propagates — the commit then fails before its
        flip, and a retry rewrites the same directories. The stats
        land in the manifest and let as-of reads skip closed
        directories whose whole content ended before the probe date
        (the lakehouse data-skipping pattern, at directory
        granularity); the sizes feed the size-tiered compaction and
        every other size-driven choice.

        ``rows`` must be deterministic (checkpointed by the caller): the
        aggregate and the write must see the same rows. A ``_current``
        column, when present, decides each row's side; otherwise
        ``_end IS NULL`` does. Open rows land under ``open_batch``;
        closed rows under ``closed_batch``, or — when None — under a
        deterministic content token (``n{count}x{sum}`` of per-row
        xxhash64s of ``(_id, _end)``, summed map-side with constant
        memory per task: a collect_list token would hold every closed
        ``_id`` in ONE aggregation buffer), so retrying the same merge
        overwrites the SAME directory instead of appending duplicates.
        A token's closed rows are left out of the write when its
        directories are already among the ``live`` (retained) ones —
        re-upserting byte-identical content; overwriting a live
        directory would tear a concurrent reader — and dropped when the
        same token is live under ANOTHER modulus's directories (a
        byte-identical batch during a doubling migration: reads would
        double-count a second copy).

        The partition keys come in ONE projection and the aggregate's
        keys and measures are the Engine's cached expressions
        (``_exprs``). The two jobs are named ``<op>:stats`` and
        ``<op>:write``."""
        path = snap.path
        keys = self._partition_keys(timepart)[:-1]  # no __batch
        add = [f"{self._obucket_sql(buckets)} AS __obucket"]
        if timepart:
            add.append(f"{self._stime_sql(timepart)} AS __stime")
        if "_current" not in rows.columns:
            add.insert(0, "_end IS NULL AS _current")
        out = rows.select(*self._exprs("*", *add))
        aggs = [f"date_format(max(_end), '{_END_STAT_FMT}') AS __max_end",
                f"date_format(min(_start), '{_END_STAT_FMT}') AS __min_start",
                "count(1) AS __rows"]
        if closed_batch is None:
            # decimal(38,0) can't overflow under ANSI until ~1e19 rows
            aggs.append("sum(CAST(xxhash64(_id, CAST(_end AS STRING)) "
                        "AS DECIMAL(38,0))) AS __hsum")
        with self._jobs(op, "stats"):
            groups = ((out.coalesce(1) if one_partition else out)
                      .groupBy(*self._exprs(*keys))
                      .agg(*self._exprs(*aggs)).collect())
        closed = [r for r in groups if not r["_current"]]
        if closed_batch is None and closed:
            # Python ints: Decimal arithmetic rounds at 28 digits
            closed_batch = (f"n{sum(r['__rows'] for r in closed)}"
                            f"x{sum(int(r['__hsum']) for r in closed)}")
        stats: dict[str, dict] = {}
        for r in groups:
            parts = [f"_current={str(bool(r['_current'])).lower()}"]
            for c in keys[1:]:
                if r[c] is None:
                    # a null partition value lands in the Hive default
                    # dir, which the period-prune predicate cannot
                    # reason about — refuse before the manifest flip
                    # (the stranded write is unreferenced and swept)
                    raise ValueError(
                        f"null {c} partition value (null _start?) — "
                        "time-partitioned cubes require non-null _start")
                parts.append(f"{c}={r[c]}")
            batch = open_batch if r["_current"] else closed_batch
            stats["/".join(parts) + f"/__batch={batch}"] = {
                "max_end": r["__max_end"], "min_start": r["__min_start"],
                "rows": r["__rows"]}
        skip: set[str] = set()
        crels = {d for d in stats if d.startswith("_current=false")}
        if crels and crels <= live:
            skip = crels  # already live: stays referenced, not rewritten
        elif crels and any(self._batch_dir_token(d) == closed_batch
                           for d in live):
            skip = crels
            stats = {d: v for d, v in stats.items() if d not in crels}
        if skip:
            out = out.where("_current")
        if set(stats) - skip:
            def lit(b):
                return "NULL" if b is None else sql_string(b)

            # _hash and _id are unique per row: parquet-mr would build
            # a dictionary for each and fall back to PLAIN anyway
            w = (out.withColumn("__batch", F.expr(
                f"CASE WHEN _current THEN {lit(open_batch)} "
                f"ELSE {lit(closed_batch)} END")).write
                .mode("overwrite").partitionBy(*keys, "__batch")
                .option("partitionOverwriteMode", "dynamic")
                .option("parquet.enable.dictionary#_hash", "false")
                .option("parquet.enable.dictionary#_id", "false"))
            ndv = self.bloom_oid_ndv
            if ndv == "auto":
                # derived from the row stats of the snapshot this
                # write commits on; 1.5x headroom so the target FPP
                # survives a growing bucket until the next write
                # re-derives, floor 1024 so tiny cubes get a working
                # bloom
                ndv = (max(1024, int(snap.bloom_ndv * 1.5))
                       if snap.bloom_ndv else 100_000)
            if ndv:
                # parquet-mr writes no bloom for a fully dictionary-
                # encoded chunk, and compacted files (an oid repeated
                # across its versions) pick the dictionary for _oid
                w = (w.option("parquet.bloom.filter.enabled#_oid", "true")
                     .option("parquet.bloom.filter.expected.ndv#_oid",
                             str(ndv))
                     .option("parquet.enable.dictionary#_oid", "false"))
            with self._jobs(op, "write"):
                w.parquet(path)
        # one recursive LIST per directory this commit references for
        # these rows (bounded by the commit, not the cube); sizes of
        # untouched dirs carry forward in _merged_stats. A failed
        # measurement fails the commit before its flip, like a failed
        # write: every directory a root names carries its size
        for rel, v in stats.items():
            v["bytes"] = self.fs.du(self.fs.join(path, rel))
        return stats

    @staticmethod
    def _check_oid_type(stored, incoming) -> None:
        """Reject an incoming frame whose ``_oid`` type differs from the
        stored cube's. Parquet directories with mixed physical types for
        the same column read back wrong (Spark picks one file's footer
        schema unless mergeSchema), and type drift is how the bucket
        hash / anti-join hazards arise in the first place — fail loud at
        the write boundary instead. ``stored`` and ``incoming`` are
        schemas (``StructType``)."""
        s = stored["_oid"].dataType
        i = incoming["_oid"].dataType
        if s != i:
            raise TypeError(
                f"incoming _oid type {i.simpleString()} != stored cube's "
                f"{s.simpleString()}; cast the incoming _oid to the "
                "stored type before writing")

    @staticmethod
    def _obucket(buckets: int):
        """Scan-stage oid-bucket expression — stable content hash, so the
        same oid always lands in the same directory whatever the batch.
        Hashes the STRING form of ``_oid``: xxhash64 is type-sensitive
        (int 7 and long 7 hash differently), so hashing the raw column
        would prune point lookups to the wrong directories whenever the
        lookup frame's inferred type differs from the stored type. The
        string cast makes every integral width hash identically."""
        return F.expr(Engine._obucket_sql(buckets))

    @staticmethod
    def _obucket_sql(buckets: int) -> str:
        """``_obucket`` as SQL text."""
        return (f"CAST(pmod(xxhash64(CAST(_oid AS STRING)), {int(buckets)})"
                " AS INT)")

    @staticmethod
    def _stime_sql(timepart: str) -> str:
        """Scan-stage period expression for the ``__stime`` partition
        key, as SQL text — a wall-clock rendering of ``_start`` in the
        session timezone (the root's layout pins the zone). Zero-padded
        ``yyyy-MM``/``yyyy`` strings compare lexicographically in date
        order, which is what the prune predicate relies on."""
        fmt = "yyyy-MM" if timepart == "month" else "yyyy"
        return f"date_format(_start, '{fmt}')"

    @staticmethod
    def _partition_keys(timepart: str | None = None) -> list[str]:
        # __stime sits BELOW __obucket: the bounded history import
        # identifies a hit bucket by the relpath's second component
        return ["_current", "__obucket",
                *(["__stime"] if timepart else []), "__batch"]

    def _manifest_schema(self, data_schema,
                         timepart: str | None = None) -> dict:
        """StructType JSON for the manifest's ``schema`` field: the DATA
        columns as committed (minus any partition/internal columns that
        may ride along) followed by the directory-encoded partition
        columns in nesting order — exactly the frame
        ``spark.read.schema(...).option("basePath", ...)`` returns, so
        a stored-schema read is byte-compatible with the footer-inferred
        read it replaces."""
        from pyspark.sql.types import (BooleanType, IntegerType,
                                       StringType, StructField, StructType)

        part = self._partition_keys(timepart)
        # every data field is recorded nullable: pre-evolution files and
        # null-filled kept rows MUST read the column as null, so a
        # batch-copied nullable:false would make the stored contract
        # self-inconsistent (reads work today only because Spark forces
        # file-source user schemas nullable — an implementation detail
        # the persisted schema must not lean on)
        fields = [StructField(f.name, f.dataType, True)
                  for f in data_schema.fields
                  if f.name not in part and f.name != "__batch"]
        types = {"_current": BooleanType(), "__obucket": IntegerType(),
                 "__stime": StringType(), "__batch": StringType()}
        fields += [StructField(k, types[k]) for k in part]
        return StructType(fields).jsonValue()

    def _align_to_stored(self, snap: _Snapshot, incoming: DataFrame,
                         evolve: bool):
        """Check and align a commit batch against the stored cube
        (``_check_oid_type``, ``_check_redrop``, ``_align_incoming``).
        Every check reads only the stored SCHEMA — the manifest's
        ``StructType``, internal partition keys left out exactly as
        ``_read`` drops them: no commit lists the cube, or builds a
        frame, just to look at its column types."""
        from pyspark.sql.types import StructType

        stored = StructType([f for f in StructType.fromJson(snap.schema)
                             if f.name not in _INTERNAL])
        self._check_oid_type(stored, incoming.schema)
        self._check_redrop(snap, incoming, set(stored.names))
        return self._align_incoming(stored, incoming, evolve)

    @staticmethod
    def _align_incoming(stored_schema, incoming: DataFrame, evolve: bool):
        """Schema-align a write batch against the stored cube: missing
        stored columns are null-filled into the batch (the reference's
        store is schemaless dicts — an object that stops carrying a
        field simply has no value for it, ``core_api.py:505-520``), NEW
        batch columns widen the cube's schema when ``evolve`` (files
        already on disk never rewrite; the manifest schema makes them
        read back as typed nulls), and a same-name type conflict always
        fails loud — parquet directories with mixed physical types for
        one column are unreadable roulette, and a silent cast hides
        upstream drift. Returns ``(incoming', schema)``: the batch in
        the union column order (stored order first, new columns
        appended; ``_current`` excluded) — projected only when its
        columns are not already exactly that — and its ``StructType``,
        known without asking the JVM."""
        from pyspark.sql.types import StructField, StructType

        stored = {f.name: f.dataType for f in stored_schema.fields
                  if f.name != "_current"}
        inc = {f.name: f.dataType for f in incoming.schema.fields
               if f.name != "_current"}
        # simpleString comparison: nullability is NOT a physical type —
        # an incoming array<double> built with containsNull=false (e.g.
        # F.array(F.lit(1.0))) is write-compatible with a stored
        # parquet-read array whose containsNull=true, and strict
        # DataType equality would reject it spuriously
        conflicts = [
            f"{n}: incoming {inc[n].simpleString()} != stored "
            f"{stored[n].simpleString()}"
            for n in stored
            if n in inc
            and inc[n].simpleString() != stored[n].simpleString()]
        if conflicts:
            raise TypeError(
                "incoming column type(s) differ from the stored cube's "
                "(cast before writing): " + "; ".join(sorted(conflicts)))
        new = [n for n in inc if n not in stored]
        if new and not evolve:
            raise ValueError(
                f"incoming batch adds column(s) {sorted(new)} the cube "
                "does not have; pass evolve=True to widen the cube "
                "schema, or drop them before writing")
        if new:
            # widening is irreversible-by-default on the manifested
            # layout (drop_column exists, but nobody audits what they
            # didn't notice): make every widening VISIBLE so a typo'd
            # column name doesn't silently become permanent schema
            _log.warning(
                "schema evolution: commit widens the cube with new "
                "column(s) %s — drop_column() to undo an accidental "
                "widening", sorted(new))
        missing = [n for n in stored if n not in inc]
        have = incoming.columns + missing
        for n in missing:
            incoming = incoming.withColumn(n, F.lit(None).cast(stored[n]))
        cols = [n for n in stored] + new
        if have != cols:
            incoming = incoming.selectExpr(*map(sql_ident, cols))
        types = {**stored, **inc}
        return incoming, StructType([StructField(n, types[n]) for n in cols])

    def compact(self, cube: str, target_partitions: int | None = None,
                sort_by: Sequence[str] | None = None,
                small_bytes: int | None | object = _FULL_COMPACT,
                cluster: str = "range") -> int:
        """Consolidate the history partition's per-upsert-batch
        directories — SIZE-TIERED (LSM-style) by default.

        Every snapshot upsert appends one token-keyed ``__batch``
        directory of closed rows — correct and idempotent, but after
        thousands of batches the history side is thousands of small
        parquet directories (the classic small-files problem; at cluster
        scale, NameNode/listing pressure and tiny scan tasks). ``compact``
        merges the batches whose total size is at or below
        ``small_bytes`` (default: the engine's ``compact_small_bytes``)
        into ONE consolidated batch directory and removes the originals;
        batches ABOVE the threshold — prior consolidated levels — merge
        only when ≥4 of them are of similar size (promotion into the
        next level up, see ``compaction.tier_groups``), otherwise they
        carry forward by manifest reference, untouched on disk. This
        bounds routine maintenance at O(recent small batches) while the
        promotion rule bounds the LEVEL COUNT as data grows (~3 levels
        per 2x size class, O(log(|history|/threshold)) directories) and
        each byte's lifetime rewrite count at O(log(|history|)) — a
        steady small-batch ingest under ``auto_compact_batches`` never
        pays an O(|history|) rewrite on any single commit. Pass
        ``small_bytes=None`` for an explicit FULL consolidation (every
        batch merges — e.g. one final clustering pass with ``sort_by``
        before archiving).
        Per-batch sizes come from the manifest root's per-token byte
        rollup (every directory's size is recorded at commit), so tier
        selection costs no listing. Returns the number of directories
        removed.

        ``sort_by`` (e.g. ``["_start"]``) range-partitions and sorts the
        rewritten rows on the given columns, so each output file covers
        a tight, largely disjoint slice of the sort key and its parquet
        row-group min/max statistics become selective: an as-of or
        date-range scan then skips most files/row-groups at the reader
        even within a single period directory — the clustering half of
        the data-skipping story that partition pruning alone can't give
        (a month of 100 TB history is still thousands of files).
        ``cluster='zorder'`` with 2+ numeric/timestamp ``sort_by``
        columns interleaves quantile-binned axes into a Morton key
        instead (see ``_zorder``): each file then covers a tight
        hyper-rectangle of ALL the columns, so scans filtering on ANY
        of them skip — lexicographic range sort only ever skips on the
        leading column.

        Crash-safe like every commit: the consolidated directory's name
        is the same order-insensitive content checksum the upsert commit
        uses, and it becomes visible only at the manifest flip — a crash
        before the flip leaves an unreferenced directory the next commit
        or ``vacuum`` sweeps; re-running with no new data converges to
        the same directory.
        Consequence: re-compacting IDENTICAL content with a different
        ``sort_by`` is a no-op (same token, live directory, overwrite
        would tear readers) — cluster on the first compact, or after
        new batches land (both apply within the merged tier)."""
        if small_bytes is Engine._FULL_COMPACT:
            small_bytes = self.compact_small_bytes
        if cluster not in ("range", "zorder"):
            raise ValueError(f"cluster must be 'range' or 'zorder', "
                             f"got {cluster!r}")
        with self._write_lock(cube):
            return self._compact_locked(cube, target_partitions, sort_by,
                                        small_bytes, cluster=cluster)

    @staticmethod
    def _batch_dir_token(rel: str) -> str:
        """The upsert-batch token of a manifest-relative history
        directory path (the ``__batch=`` leaf — one token spans several
        bucket/period dirs)."""
        return rel.rsplit("__batch=", 1)[-1]

    def _sort_compacted(self, closed: DataFrame,
                        target_partitions: int | None,
                        sort_by: Sequence[str] | None,
                        cluster: str = "range") -> DataFrame:
        if sort_by and cluster == "zorder" and len(sort_by) >= 2:
            return self._zorder(closed, sort_by, target_partitions)
        if sort_by:
            # range-partition + in-task sort: each rewritten file covers
            # a tight slice of the sort key, making row-group min/max
            # stats selective for later scans (partitionBy preserves a
            # task's row order into the files it writes)
            nparts = (target_partitions
                      or self.spark.sparkContext.defaultParallelism)
            return (closed.repartitionByRange(
                nparts, *[F.col(c) for c in sort_by])
                .sortWithinPartitions(*sort_by))
        if target_partitions:
            return closed.repartition(target_partitions)
        return closed

    _ZBINS_BITS = 8  # 256 quantile bins per axis

    def _zorder(self, closed: DataFrame, cols: Sequence[str],
                target_partitions: int | None) -> DataFrame:
        """Multi-dimensional clustering (Z-order / Morton curve — the
        public Delta Lake OSS ``OPTIMIZE ZORDER BY`` idea): bin each
        clustering column into ~256 BALANCED buckets (approxQuantile
        boundaries, so skew can't collapse the curve onto one axis),
        bit-interleave the bin ids into one Morton key, then
        range-partition + sort on it. Every rewritten file then covers a
        tight hyper-rectangle of ALL the clustering columns at once, so
        parquet row-group min/max stats prune scans filtering on ANY of
        them — a lexicographic ``sort_by`` only ever skips on its
        leading column. Numeric / timestamp / date columns only (string
        min/max locality doesn't survive hashing; sort strings
        lexicographically instead). Costs one extra quantile pass over
        the rows being rewritten — bounded by the compaction tier, not
        the cube. Nulls bin to the lowest bucket (clustered together,
        stats stay truthful)."""
        from pyspark.sql import types as T

        k = len(cols)
        # stay below the long's sign bit: max interleaved position is
        # (bits-1)*k + (k-1) < 63 — with many axes, fewer bits per axis
        # (coarser bins) keeps the curve a valid non-negative sort key
        bits = min(self._ZBINS_BITS, max(1, 62 // k))
        nums = []
        for c in cols:
            dt = closed.schema[c].dataType
            col = F.col(c)
            if isinstance(dt, T.DateType):
                col = col.cast("timestamp")
            elif not isinstance(dt, (T.NumericType, T.TimestampType)):
                raise ValueError(
                    f"zorder column {c!r} must be numeric/timestamp/"
                    f"date, got {dt.simpleString()} (use "
                    "cluster='range' for lexicographic keys)")
            nums.append(col.cast("double"))
        probes = [i / (1 << bits) for i in range(1, 1 << bits)]
        with self._jobs("compact", "zorder"):
            qs = closed.select(*[n.alias(f"__q{j}") for j, n in
                                 enumerate(nums)]).approxQuantile(
                [f"__q{j}" for j in range(k)], probes, 0.001)  # ONE pass
        def binner(num):  # bind the axis column per-iteration (pyspark
            # reads the lambda's arity, so no default-arg capture)
            return lambda acc, b: acc + F.when(num >= b, 1).otherwise(0)

        bins = []
        for num, axis in zip(nums, qs):
            bounds = sorted({b for b in axis if b is not None})
            if not bounds:
                continue  # all-null axis contributes nothing
            # balanced bin id = #boundaries <= value (JVM fold, ~256
            # comparisons per row, codegen-friendly)
            bins.append(F.aggregate(F.lit(bounds), F.lit(0), binner(num)))
        if not bins:
            return closed
        z = F.lit(0).cast("long")
        for j, bcol in enumerate(bins):
            b = bcol.cast("long")
            for i in range(bits):
                z = z + F.shiftleft(
                    F.shiftright(b, i).bitwiseAND(F.lit(1)), i * k + j)
        nparts = (target_partitions
                  or self.spark.sparkContext.defaultParallelism)
        out = (closed.withColumn("__zkey", z)
               .repartitionByRange(nparts, F.col("__zkey"))
               .sortWithinPartitions("__zkey"))
        return out.drop("__zkey")

    def _compact_locked(self, cube: str, target_partitions: int | None,
                        sort_by: Sequence[str] | None = None,
                        small_bytes: int | None = None,
                        cluster: str = "range") -> int:
        path = self._path(cube)
        snap = self._resolve(path, write=True)
        if snap.root is None:
            return 0
        meta = snap.manifest
        # size-tiered — the trickle of small batches merges
        # into one level, and ≥4 similar-sized larger levels fold into
        # the next level up (see compaction.tier_groups: bounded level
        # count AND bounded lifetime write amplification); every other
        # level carries forward by manifest reference, untouched on
        # disk (byte-identical)
        from metrique_spark.compaction import tier_groups

        if small_bytes is not None:
            groups = tier_groups(snap.root["rollup"]["token_bytes"],
                                 small_bytes)
        else:
            merge = {self._batch_dir_token(d) for d in meta["dirs"]
                     if d.startswith("_current=false")}
            groups = [merge] if len(merge) > 1 else []
        if not groups:
            return 0
        live = set(meta["dirs"])
        raw_df = self._scan(snap)
        rels: dict[str, dict] = {}
        merged_all: set[str] = set()
        for merge in groups:
            read = [d for d in live if d.startswith("_current=false")
                    and self._batch_dir_token(d) in merge]
            closed = (raw_df.where(~F.col("_current")
                                   & F.col("__batch").isin(sorted(merge)))
                      .drop("_current", *_INTERNAL))
            closed = self._sort_compacted(closed, target_partitions,
                                          sort_by, cluster=cluster)
            # localCheckpoint: the write below rewrites the directories
            # this plan reads from
            with self._jobs("compact", "checkpoint"):
                closed = closed.withColumn(
                    "_current", F.lit(False)).localCheckpoint(eager=True)
            rels.update(self._write_dirs(
                closed, snap, meta["oid_buckets"], snap.timepart,
                op="compact", live=self._retained_dirs(meta),
                one_partition=self._one_partition(snap, read)))
            merged_all |= merge
        drop = {d for d in live
                if d.startswith("_current=false")
                and self._batch_dir_token(d) in merged_all}
        dirs = (live - drop) | set(rels)
        # content is identical post-compact: the auto-refresh diff
        # is empty and this only bumps auto indexes' root gens
        self._auto_refresh_indexes(cube, snap,
                                   self._commit(snap, dirs, rels))
        return len(drop - dirs)

    def _first_write(self, snap: _Snapshot, obj: DataFrame) -> int | None:
        """First committed generation. The constant ``_layout.json``
        fence FIRST (a crash between data and fence would otherwise
        leave data every later operation refuses as an older format);
        the manifest PUT, which records this engine's layout, is the
        commit point — until it lands, readers see nothing and a
        retry rewrites the same gen-1 directories. ``obj`` must be
        checkpointed by the caller (``_checkpoint``): the stats
        aggregate and the data write must see the SAME rows —
        stamp()'s default _start is current_timestamp() (fixed per
        QUERY, different across the two jobs), so an unpinned plan
        straddling a period boundary would
        record manifest dirs the data never landed in, and the sweep
        would then delete the real ones. Returns the generation it
        published (1), or None when nothing landed."""
        path, buckets = snap.path, self.oid_buckets
        self.fs.write_text(self.fs.join(path, self._LAYOUT_SIDECAR),
                           self._FENCE)
        dirs = self._write_dirs(
            obj.drop("_current"), snap, buckets, self.time_partition,
            op="first_write", open_batch="open-g1", closed_batch="hist-g1")
        if not dirs:
            # zero-row first batch: nothing landed — leave the cube in
            # the "new" state (no manifest) instead of committing an
            # empty generation every read would refuse
            return None
        self._manifest_flip(path, None, 1, set(dirs),
                            stats=self._merged_stats(
                                None, dirs, set(dirs), None),
                            schema=self._manifest_schema(
                                obj.schema, self.time_partition),
                            oid_buckets=buckets)
        self._sweep_unreferenced(path, set(dirs))
        return 1

    def insert(self, cube: str, df: DataFrame, stamped: bool = False,
               evolve: bool = True, **stamp_kw) -> None:
        """Plain append (reference ``insert``, ``sqlalchemy.py:865-875``).
        On manifested cubes the append is a commit like any other: rows
        land in fresh generation-scoped directories, the pointer flip
        makes them visible atomically. Schema-aligned against the stored
        cube like ``upsert`` (see ``_align_incoming``): missing columns
        null-fill, new columns widen the cube schema when ``evolve``."""
        obj = df if stamped else stamp(df, **stamp_kw)
        path = self._path(cube)
        with self._write_lock(cube):
            snap = self._resolve(path, write=True)
            obj, n_in, _, _ = self._checkpoint(obj, (), "insert")
            if snap.root is None:
                self._first_write(snap, obj)
                return
            obj, sch = self._align_to_stored(snap, obj, evolve)
            gen = snap.gen + 1
            new_dirs = self._write_dirs(
                obj, snap, snap.root["oid_buckets"], snap.timepart,
                op="insert", open_batch=f"ins-g{gen}",
                closed_batch=f"insh-g{gen}",
                one_partition=self._one_partition(snap, rows=n_in))
            self._auto_refresh_indexes(cube, snap, self._commit(
                snap, set(snap.dirs) | set(new_dirs), new_dirs,
                schema=self._manifest_schema(sch, snap.timepart)))

    def upsert(self, cube: str, df: DataFrame, autosnap: bool | None = None,
               stamped: bool = False, evolve: bool = True,
               **stamp_kw) -> None:
        """Temporal upsert (reference ``sqlalchemy.py:906-975``); see
        ``upsert.py`` for semantics and the partition-local write
        strategy. The batch is schema-aligned against the stored cube
        (``_align_incoming``): columns the batch stops carrying
        null-fill (the reference's dict objects simply lack the key),
        NEW columns widen the cube schema when ``evolve`` — on-disk
        files never rewrite; the manifest's authoritative schema makes
        pre-evolution files read back as typed nulls. ``evolve=False``
        fails loud on new columns instead."""
        incoming = df if stamped else stamp(df, **stamp_kw)
        path = self._path(cube)
        with self._write_lock(cube):
            snap = self._resolve(path, write=True)
            self._auto_refresh_indexes(cube, snap, self._upsert_locked(
                cube, snap, incoming, autosnap, evolve))

    def _auto_refresh_indexes(self, cube: str, snap: _Snapshot,
                              gen: int | None) -> None:
        """Commit epilogue for indexes built with ``auto_refresh=True``:
        bring every such stale index to ``gen``, the generation this
        commit just published on ``snap`` (runs under the already-held
        writer lease — the lock is reentrant). O(delta) per index; the
        indexes come from the root's registry, which a commit carries
        forward, so cubes without indexes pay no control call."""
        for name, m in self._vector_indexes(snap, gen).items():
            if m.get("auto") and m.get("stale"):
                self.refresh_vector_index(cube, name)

    def _checkpoint(self, batch: DataFrame, moduli: Sequence[int], op: str
                    ) -> tuple[DataFrame, int, int, dict[int, set[int]]]:
        """Checkpoint a commit batch ONCE, with its probe folded in:
        ``validate``'s checks, the row count, the closed-row count
        (autosnap detection) and the oid-bucket values the oids hash
        into under each modulus in ``moduli`` (the live count and every
        in-flight doubling's from-count) are ``observe`` metrics of the
        checkpoint's own job, named ``<op>:checkpoint`` — the probe
        reads no row twice and runs no job of its own. Raises
        ``validate``'s errors before anything is written. Returns the
        checkpoint, its row count, its closed-row count and the hit
        bucket values per modulus (each set bounded by its bucket
        count).

        The checkpoint pins the rows: the probe, the merge and the
        write must all see the same ones — a nondeterministic source
        (sample/limit, stamp()'s current_timestamp() _start) recomputed
        between them could land rows in a bucket the merge never read,
        silently dropping that bucket's other open rows. It runs even
        when the batch already is a checkpoint: it is the probe."""
        from pyspark.sql import Observation

        obs = Observation()
        with self._jobs(op, "checkpoint"):
            cp = batch.observe(obs, *self._exprs(
                *validity_checks(), "count(1) AS __rows",
                "count(_end) AS __closed",
                *[f"collect_set({self._obucket_sql(m)}) AS __b{i}"
                  for i, m in enumerate(moduli)])).localCheckpoint(eager=True)
        row = obs.get
        raise_invalid(row)
        return cp, row["__rows"], row["__closed"], {
            m: set(row[f"__b{i}"]) for i, m in enumerate(moduli)}

    def _one_partition(self, snap: _Snapshot, dirs: Iterable[str] = (),
                       rows: int = 0) -> bool:
        """Whether a commit plan over ``snap`` runs in ONE partition:
        True when its input — the recorded bytes of the directories
        ``dirs`` it reads plus ``rows`` batch rows at the cube's
        average recorded row size — fits
        ``spark.sql.adaptive.advisoryPartitionSizeInBytes``, the size
        below which AQE coalesces a shuffle to one partition anyway.
        Such a merge joins and such a stats aggregate groups with no
        exchange, and the job AQE runs for each exchange's map stage
        goes with it. An input of unknown size (a first write) or a
        larger one keeps the shuffled plan, so a bulk commit never
        merges on one task."""
        if snap.row_bytes is None or rows >= 1 << 31:
            return False
        size = snap.manifest["stats"]["bytes"]
        total = sum(size[d] for d in dirs) + rows * snap.row_bytes
        return total <= _byte_size(self.spark.conf.get(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes"))

    def _upsert_locked(self, cube, snap, incoming, autosnap, evolve=True):
        """One commit of a batch on ``snap``. A snapshot trickle runs
        four Spark jobs whatever its size: the batch checkpoint that
        carries the probe (``_checkpoint``), the merge checkpoint, and
        ``_write_dirs``' stats-and-token aggregate and single write
        (``upsert:checkpoint``, ``upsert:merge``, ``upsert:stats``,
        ``upsert:write``) — when ``_one_partition`` finds the merge's
        input small; a larger merge adds the shuffle map stages of its
        join and aggregate, under the same names.
        The manifest flip publishes it. Returns the generation it
        published (None when nothing landed)."""
        incoming, n_in, n_closed, hits = self._checkpoint(
            incoming, [] if snap.root is None else snap.moduli, "upsert")
        if autosnap is None:
            # True iff every incoming object is open (reference
            # sqlalchemy.py:910-915)
            autosnap = not n_closed
        if snap.root is None:
            return self._first_write(snap, _upsert.latest_per_oid(incoming)
                                     if autosnap else incoming)
        meta = snap.manifest
        if autosnap:
            live = set(meta["dirs"])
            # BUCKET-GRANULAR merge: the open snapshot is oid-bucket
            # partitioned, and a snapshot batch can only touch open
            # rows whose _oid it carries — so read, merge and rewrite
            # ONLY the bucket directories the incoming oids hash
            # into; every other open-bucket directory carries
            # forward by manifest reference, untouched on disk (the
            # same trick the bounded history import and the ANN
            # gbucket removal use). At 100 TB this turns the
            # per-commit write cost from O(|current snapshot|) into
            # O(open rows of hit buckets + closed delta). The hit
            # buckets come from the probe over the checkpointed
            # batch, so the merge reads exactly the buckets its
            # rows land in.
            # MIGRATION-AWARE: the open rows an incoming oid can touch
            # live in an open dir at ANY modulus still present (live
            # count, plus each chained doubling's from-modulus) — the
            # hit DIRECTORIES resolve per vintage. Rewriting under the
            # live modulus migrates the hit old dirs' open rows as a
            # side effect — the opportunistic half of the doubling
            # migration; _manifest_flip's carry rule retires their
            # stamps automatically.
            buckets = meta["oid_buckets"]
            drop_open = self._hit_dirs(hits, meta, buckets, live,
                                       current_only=True)
            small = self._one_partition(snap, drop_open, n_in)
            if small:
                # one partition per side joins with no exchange. The
                # batch passes through one row (a global collect_list,
                # inlined back) so that the planner's estimate of its
                # size is bounded: a checkpoint of a source of unknown
                # size would otherwise block the unshuffled join
                # (spark.sql.maxSinglePartitionBytes)
                incoming = incoming.coalesce(1).select(
                    *self._exprs("collect_list(struct(*)) AS __rows")
                ).select(*self._exprs("inline(__rows)"))
            # last write wins within a snapshot batch (the reference's
            # container buffer is keyed by _id, core_api.py:537-540; the
            # first write above applies the same rule)
            incoming, sch = self._align_to_stored(
                snap, _upsert.latest_per_oid(incoming), evolve)
            # read exactly the dirs being dropped, by RELPATH
            # (read-set == drop-set by construction) — a full-cube
            # _read_raw here would list O(cube) directories per
            # trickle commit just to partition-filter them away
            if drop_open:
                # the value filter is sound under every modulus: a
                # dir's path value is in its own modulus's hit set
                hit_vals = sorted(set().union(*hits.values()))
                open_rows = self._read_dirs(
                    snap.path, meta["schema"], sorted(drop_open)).where(
                    f"_current AND __obucket IN "
                    f"({', '.join(map(str, hit_vals))})")
                if small:
                    open_rows = open_rows.coalesce(1)
                # the open rows were read under the PRE-commit schema;
                # null-fill any columns this batch evolves in, like the
                # history import does for its kept rows
                old = {f["name"] for f in meta["schema"]["fields"]}
                for f in sch.fields:
                    if f.name not in old:
                        open_rows = open_rows.withColumn(
                            f.name, F.lit(None).cast(f.dataType))
            else:
                # no existing open dir can hold these oids: merge
                # against an empty open side with the batch's columns
                # (no listing, no frame built for a no-op read)
                open_rows = incoming.where("false")
            # one join, one materialization (must happen before rewriting
            # the partition we read from; the stats aggregate and the
            # write below must see the same rows). The merge reads the
            # batch's columns of the open side and ignores the rest
            # (the read's partition keys).
            with self._jobs("upsert", "merge"):
                tagged = _upsert.snapshot_merge_tagged(
                    open_rows, incoming).localCheckpoint(eager=True)
            # snapshot-isolated commit: ONE write lands the closed rows
            # (content-token batch) and the open rows (gen-keyed batch)
            # in directories no live manifest references; the pointer
            # flip publishes them atomically. A crash anywhere before
            # the flip leaves readers on the old generation and the
            # retried batch rewrites the same directories (the token
            # is content-keyed, the open dir is gen-keyed and the gen
            # didn't advance). Retained history dirs count as live too:
            # overwriting one would corrupt a retained snapshot.
            rels = self._write_dirs(
                tagged, snap, buckets, snap.timepart, op="upsert",
                open_batch=f"open-g{snap.gen + 1}",
                live=self._retained_dirs(meta), one_partition=small)
            # untouched open-bucket dirs stay referenced
            gen = self._commit(snap, (live - drop_open) | set(rels), rels,
                               schema=self._manifest_schema(
                                   sch, snap.timepart))
            if self.auto_compact_batches:
                # count only SMALL tokens (the root's per-token byte
                # rollup, no listing) of the generation just published:
                # consolidated levels above the tier threshold are
                # already compacted and must not re-trigger an
                # O(|history|) rewrite every commit
                tok = self._resolve(snap.path).root["rollup"]["token_bytes"]
                n = sum(s <= self.compact_small_bytes for s in tok.values())
                if n > self.auto_compact_batches:
                    self.compact(cube)
            return gen
        incoming, sch = self._align_to_stored(snap, incoming, evolve)
        return self._history_replace_manifested(
            snap, incoming, sch.names, hits, n_in,
            schema=self._manifest_schema(sch, snap.timepart))

    def _history_replace_manifested(
        self, snap: _Snapshot, incoming: DataFrame, cols: list[str],
        hits: dict[int, set[int]], n_in: int, *, schema: dict,
    ) -> int:
        """Bounded, snapshot-isolated history import: rewrite ONLY the
        oid-bucket directories containing incoming oids (reference
        semantics — delete every stored version of the incoming oids,
        insert the supplied full history, ``sqlalchemy.py:955-963`` —
        without the full-table rewrite). Untouched buckets are never read
        OR written: the scan below reads exactly the hit buckets'
        directories, and the rewrite lands in fresh generation-scoped directories that
        the manifest flip publishes atomically — a concurrent reader sees
        exactly the old or exactly the new history of a replaced oid,
        never both.

        Crash-convergent under the single-writer lease: the union write
        is deterministic from (manifested state minus incoming oids) +
        incoming, and the generation number doesn't advance until the
        flip — a retry recomputes the identical directories; stranded
        ones stay unreferenced and are swept by the next commit."""
        # ``incoming`` projects the commit's checkpointed batch, and
        # ``hits`` (the probe's bucket values under every live modulus)
        # was computed from those same rows — a rewrite of exactly the
        # hit buckets cannot miss a bucket an incoming row lands in
        meta, gen = snap.manifest, snap.gen + 1
        buckets, live = meta["oid_buckets"], set(meta["dirs"])
        # migration-aware: an incoming oid's stored versions live in
        # dirs at ANY modulus still present (chained doublings
        # included) — the replaced DIRECTORIES resolve per vintage (see
        # the snapshot merge). The rewrite under the live modulus
        # migrates the hit old dirs as a side effect.
        replaced_dirs = self._hit_dirs(hits, meta, buckets, live,
                                       current_only=False)
        # read exactly the replaced set, by relpath
        pruned = (self._read_dirs(snap.path, meta["schema"],
                                  sorted(replaced_dirs))
                  if replaced_dirs else incoming.where("false"))
        keys = incoming.select("_oid").distinct()
        kept = pruned.join(_upsert.maybe_broadcast_keys(keys), "_oid",
                           "left_anti")
        # the kept rows were read under the PRE-commit manifest schema;
        # when this import evolves the schema, null-fill the new columns
        # so the union below lines up (their files stay as-is — the new
        # manifest schema null-fills them on every later read too)
        inc_types = {f.name: f.dataType for f in incoming.schema.fields}
        for c in cols:
            if c not in kept.columns:
                kept = kept.withColumn(c, F.lit(None).cast(inc_types[c]))
        # _current recomputed from _end (the old dirs are dropped)
        sel = [*map(sql_ident, cols), "_end IS NULL AS _current"]
        union = kept.selectExpr(*sel).unionByName(
            _upsert._regen_id(incoming).selectExpr(*sel))
        with self._jobs("history_import", "checkpoint"):
            union = union.localCheckpoint(eager=True)
        new_rels = self._write_dirs(
            union, snap, buckets, snap.timepart, op="history_import",
            open_batch=f"open-g{gen}", closed_batch=f"hr-g{gen}",
            one_partition=self._one_partition(snap, replaced_dirs, n_in))
        return self._commit(snap, (live - replaced_dirs) | set(new_rels),
                            new_rels, schema=schema)

    # -- queries (reference sqlalchemy.py:641-803) ---------------------------

    @staticmethod
    def _prune_family_ok(dtype, values: Sequence) -> bool:
        """True when every lookup literal is in the same TYPE FAMILY as
        the stored ``_oid`` dtype (numeric literal + numeric column, str
        + string column) — the precondition for the bucket prune to be
        sound. The prune hashes ``cast(literal AS stored dtype)``, but
        the row predicate compares under Spark's binary-comparison
        coercion, and the two disagree across families: on a STRING-oid
        cube, ``_oid == 1`` coerces the column numerically, so the row
        ``_oid='01'`` satisfies the predicate yet lives in the bucket of
        ``'01'`` — which a prune keyed on ``cast(1 AS string) = '1'``
        would skip. Cross-family lookups read unpruned (skipped, not
        wrong); bool literals are excluded from the numeric family
        (Spark coerces them on their own rules)."""
        import datetime as _dt
        from numbers import Number

        from pyspark.sql import types as T

        if isinstance(dtype, T.StringType):
            return all(isinstance(v, str) for v in values)
        if isinstance(dtype, T.NumericType):
            return all(isinstance(v, Number)
                       and not isinstance(v, bool) for v in values)
        if isinstance(dtype, (T.DateType, T.TimestampType,
                              T.TimestampNTZType)):
            return all(isinstance(v, (_dt.date, _dt.datetime))
                       for v in values)
        if isinstance(dtype, T.BinaryType):
            return all(isinstance(v, (bytes, bytearray))
                       for v in values)
        return False

    def _oid_bucket_values(self, oids: Sequence,
                           moduli: int | Sequence[int],
                           dtype=None) -> list[int]:
        """The __obucket partition values the given oids hash into — one
        tiny Spark job (the hash must be the JVM's xxhash64, the same
        expression every write used). ``dtype`` is the cube's STORED
        ``_oid`` type: the lookup values are cast to it before hashing,
        so a probe whose inferred type renders differently as a string
        (float 7.0 → '7.0' vs stored long 7 → '7') still prunes to the
        right directories — matching the numeric coercion the row-level
        ``isin`` filter applies. Values the cast nulls out can match no
        stored row and drop from the prune set.

        ``moduli`` may be a list (an in-flight doubling migration prunes
        under the UNION of the old and new bucket counts — see
        ``_Snapshot.moduli``); the union still costs the one job.

        Fast path: when every literal is a plain ``int``/``str`` and
        the stored dtype is an integral or string type, the string
        rendering the JVM would hash is knowable on the driver —
        ``metrique_spark.xxh64`` (property-tested against Spark's own
        expression) computes the values with NO Spark job, removing a
        fixed ~0.4 s of pure scheduling from every point lookup. Any
        other combination (float/Decimal literals, date/binary oids,
        no dtype) keeps the JVM job — rendering there is cast-rule
        territory the driver must not guess."""
        if isinstance(moduli, int):
            moduli = [moduli]
        fast = self._bucket_values_driver_side(oids, moduli, dtype)
        if fast is not None:
            return fast
        df = self.spark.createDataFrame([(o,) for o in oids], ["_oid"])
        if dtype is not None:
            # try_cast: ANSI mode would otherwise throw on an
            # un-castable probe, which the row filter treats as
            # no-match, not an error
            df = df.withColumn("_oid", F.col("_oid").try_cast(dtype))
        with self._jobs("lookup", "buckets"):
            rows = (df.select(*[self._obucket(m).alias(f"b{i}")
                                for i, m in enumerate(moduli)])
                    .distinct().collect())
        return sorted({r[f"b{i}"] for r in rows
                       for i in range(len(moduli))
                       if r[f"b{i}"] is not None})

    @staticmethod
    def _bucket_values_driver_side(oids: Sequence, moduli: Sequence[int],
                                   dtype) -> list[int] | None:
        """Driver-computed bucket values, or None when any literal or
        the stored dtype falls outside the envelope where the string
        rendering is unambiguous: integral dtypes render ``str(int)``
        (a literal beyond the dtype's range matches no stored row, so
        its extra value only widens the kept set — sound), string
        dtypes hash ``str`` literals as-is. Floats/Decimals are
        excluded — ``try_cast(7.5 AS long)`` truncates JVM-side, and
        guessing that here could DROP the right bucket."""
        from pyspark.sql import types as T

        if isinstance(dtype, T.StringType):
            if not all(isinstance(o, str) for o in oids):
                return None
        elif isinstance(dtype, (T.ByteType, T.ShortType,
                                T.IntegerType, T.LongType)):
            if not all(isinstance(o, int) and not isinstance(o, bool)
                       for o in oids):
                return None
        else:
            return None
        from metrique_spark.xxh64 import obucket_of

        return sorted({obucket_of(o, m) for o in oids for m in moduli})

    def _scoped(self, cube: str | DataFrame, query: str | None,
                date: str | None, oids: Sequence | None = None,
                generation: int | None = None) -> DataFrame:
        """The rows of ``cube`` that ``oids``, ``date`` and the MQL
        ``query`` select, without ``_current`` and the internal
        partition keys: ONE filter and ONE projection over the read
        (a warehouse cube's read prunes itself first, see ``_scan``)."""
        from pyspark.sql.types import StructType

        oids = list(oids) if oids is not None else None
        committed = False
        if isinstance(cube, DataFrame):
            if generation is not None:
                raise ValueError(
                    "generations exist only for warehouse cubes — a "
                    "DataFrame input has no generation manifest")
            df = cube
        elif cube in self._views or not self.warehouse:
            df = self.table(cube, generation=generation)
        else:
            # warehouse cube: the read itself applies every prune the
            # date spec and the point-lookup literals imply (see
            # _scan): the oids= list, or the same lookup written as MQL
            # when its conjunctively-implied literal set is bounded and
            # single-typed — otherwise unpruned (skipped, not wrong)
            lookup = oids or None
            if lookup is None and query:
                qoids = oid_literal_set(query)
                if (qoids and len(qoids) <= 10_000
                        and len({type(o) for o in qoids}) == 1):
                    lookup = sorted(qoids, key=repr)
            df = self._read_raw(self._path(cube), generation, date,
                                lookup)
            committed = True
        hidden = ("_current", *(_INTERNAL if committed else ()))
        conds = []
        if oids is not None:
            conds.append(self._oid_in(oids))
        # every committed cube has _end; a view may not
        dsql = (date_range_sql(date)
                if committed or "_end" in df.columns else None)
        if dsql:
            # the current-only predicate is a constant: built once
            conds += (self._exprs(dsql) if date_is_current_only(date)
                      else [F.expr(dsql)])
        if query:
            conds.append(compile_mql(query, StructType(
                [f for f in df.schema.fields if f.name not in hidden])))
        if conds:
            df = df.where(reduce(operator.and_, conds))
        return df.drop(*hidden)

    @staticmethod
    def _oid_in(oids: list) -> Column:
        """``_oid IN oids``. Plain ``int``/``str`` literals are written
        into one SQL expression; any other literal goes through the
        Column API's conversion (one driver→JVM call per value). An
        empty list matches nothing: building the bucket-lookup frame
        from zero rows cannot infer a schema."""
        if not oids:
            return F.expr("false")
        if all(type(o) is int or (type(o) is str and "\\" not in o)
               for o in oids):
            vals = ", ".join(str(o) if type(o) is int else sql_string(o)
                             for o in oids)
            return F.expr(f"_oid IN ({vals})")
        return F.col("_oid").isin(oids)

    def find(
        self,
        cube: str | DataFrame,
        query: str | None = None,
        fields=None,
        date: str | None = None,
        sort: str | None = None,
        descending: bool = False,
        limit: int | None = None,
        distinct: bool = False,
        default_fields: bool = True,
        oids: Sequence | None = None,
        generation: int | None = None,
    ) -> DataFrame:
        """MQL find (reference ``sqlalchemy.py:753-785``). ``oids``
        narrows to specific objects AND prunes the scan to their oid
        buckets — the fast path for point lookups.
        ``generation`` queries a retained snapshot (time travel) with
        the full MQL/date surface; partition prunes apply there too."""
        df = self._scoped(cube, query, date, oids=oids,
                          generation=generation)
        cols = parse_fields(fields)
        if cols is not None:
            if default_fields:
                cols = cols + [c for c in DEFAULT_FIELDS if c not in cols and c in df.columns]
            df = df.select(*cols)
        if distinct:
            df = df.distinct()
        if sort:
            df = df.orderBy(F.col(sort).desc() if descending else F.col(sort))
        if limit and limit >= 1:
            df = df.limit(limit)
        return df

    def _retry_swept(self, action):
        """Run a callable that BUILDS a cube read from its name and
        materializes it. If it fails on the swept-generation race (a
        concurrent commit deleted the directories our earlier manifest
        resolution named — see ``_read_raw``), run it once more: the
        rebuild re-resolves the manifest pointer, so the retry sees
        exactly the new committed generation. A second miss fails loud —
        that is no longer the race, it is a broken cube."""
        try:
            return action()
        except Exception as e:
            if not _is_swept_read_error(e):
                raise
            return action()

    def find_one(self, cube: str | DataFrame, query: str | None = None,
                 **kw):
        """First matching row as a dict, or None (reference ``one=True``,
        ``sqlalchemy.py:769-771``)."""
        with self._jobs("find_one", "first"):
            row = self._retry_swept(
                lambda: self.find(cube, query, **kw).first())
        return row.asDict(recursive=True) if row is not None else None

    def find_scalar(self, cube: str | DataFrame, query: str | None = None,
                    **kw):
        """First column of the first matching row (reference
        ``scalar=True``, ``sqlalchemy.py:772-774``)."""
        with self._jobs("find_scalar", "first"):
            row = self._retry_swept(
                lambda: self.find(cube, query, **kw).first())
        return row[0] if row is not None else None

    def count(self, cube: str | DataFrame, query: str | None = None,
              date: str | None = None,
              oids: Sequence | None = None,
              generation: int | None = None) -> int:
        """Count matches (reference ``sqlalchemy.py:641-664``). The two
        unfiltered shapes — current-only (``date=None``) and all-history
        (``date='~'``) — answer from the manifest's per-directory row
        counts (a metadata-only read: zero files opened, zero Spark
        jobs — at 100 TB a bare ``count`` should never scan the table);
        any filter takes the scan.

        Freshness: the metadata answer reflects the one snapshot the
        call resolved — the same semantics as any other read of the
        cube. Under a concurrent commit it can be one generation behind
        the committer's own view; the scan path re-resolves only when
        the snapshot's directories (or manifest segments) were swept
        under it, and then reads the newer generation whole. Callers
        that need read-your-own-commit across engines should count
        through the same engine that committed, or re-call."""
        if (isinstance(cube, str) and query is None and oids is None
                and self.warehouse and cube not in self._views
                and (date == "~" or date_is_current_only(date))):
            n = self._retry_swept(lambda: self._count_from_stats(
                self._resolve(self._path(cube), generation), date != "~"))
            if n is not None:
                return n
        with self._jobs("count", "scan"):
            return self._retry_swept(
                lambda: self._scoped(cube, query, date, oids=oids,
                                     generation=generation).count())

    @staticmethod
    def _count_from_stats(snap: _Snapshot, open_only: bool) -> int | None:
        """Manifest-recorded row total of an unfiltered count of the
        snapshot's generation, or None when nothing is committed (the
        scan path raises the proper error). Works for retained
        generations too: stats carry forward for every retained
        directory."""
        if snap.root is None:
            return None
        if snap.generation in (None, snap.gen):
            # the live totals were rolled up at commit time — a bare
            # count() parses one small JSON whatever the cube's
            # directory count (no segment loads, no Spark job)
            return snap.root["rollup"]["rows_open" if open_only else "rows"]
        rows = snap.manifest["stats"]["rows"]
        return sum(rows[d] for d in snap.dirs
                   if not open_only or d.startswith("_current=true"))

    def distinct(self, cube: str | DataFrame, fields, query: str | None = None,
                 date: str | None = "~") -> DataFrame:
        """Unique values of field(s); array-valued fields are flattened
        (reference ``sqlalchemy.py:706-721`` reduce-adds per-field lists
        into ONE flat sorted value set). Single field keeps its name and
        type; multiple fields union into a single string-cast ``value``
        column, matching the reference's untyped flat list."""
        from pyspark.sql import types as T

        df = self._scoped(cube, query, date)
        cols = parse_fields(fields) or df.columns
        outs = []
        for c in cols:
            dtype = df.schema[c].dataType
            col = F.explode_outer(F.col(c)) if isinstance(dtype, T.ArrayType) else F.col(c)
            outs.append(df.select(col.alias(c)).where(F.col(c).isNotNull()).distinct())
        if len(outs) == 1:
            return outs[0].orderBy(cols[0])
        uni = None
        for out in outs:
            part = out.select(F.col(out.columns[0]).cast("string").alias("value"))
            uni = part if uni is None else uni.unionByName(part)
        return uni.distinct().orderBy("value")

    def get_last_field(self, cube: str | DataFrame, field: str):
        """Max value of a field across all history (reference
        ``sqlalchemy.py:787-803``) — one aggregate, no sort."""
        def run():
            df = cube if isinstance(cube, DataFrame) else self.table(cube)
            return df.agg(F.max(field).alias(field)).first()[field]

        with self._jobs("get_last_field", "max"):
            return self._retry_swept(run)

    def deptree(self, cube: str | DataFrame, field: str, oids: Sequence,
                date: str | None = None, level: int | None = None,
                as_df: bool = False):
        """Recursive closure over a parent→children array field
        (reference ``sqlalchemy.py:666-692``). Returns the sorted
        visited-oid LIST by default (reference parity); ``as_df=True``
        returns the visited set as a one-column ``_oid`` DataFrame
        instead — the scale path when the closure feeds another plan
        (tens of millions of reachable oids never cross the driver)."""
        def run():
            df = cube if isinstance(cube, DataFrame) else self.table(cube)
            fn = temporal.deptree_df if as_df else temporal.deptree
            return fn(df, field, oids, level=level, date=date)

        with self._jobs("deptree", "closure"):
            return self._retry_swept(run)

    def dfind(self, cube: str | DataFrame, fields: Iterable[str] | None = None,
              query: str | None = None, date: str | None = "~") -> DataFrame:
        """Diff-find (reference ``sqlalchemy.py:694-704``); ``fields=None``
        diffs the whole object with added/removed-key classification."""
        return temporal.dfind(self._scoped(cube, query, date), fields)

    @staticmethod
    def _plan_relations(jplan) -> set:
        """Single-part table names a parsed (unresolved) logical plan
        references: every ``UnresolvedRelation`` leaf of the main plan
        and of every subquery expression plan (``subqueriesAll`` is
        transitive), identifiers read via ``multipartIdentifier`` —
        never from the plan's string repr, so quoting is a non-issue.
        Multipart names (``db.tbl``) are skipped: the warehouse
        namespace is flat, so they cannot be cubes."""
        out: set = set()
        plans = [jplan]
        try:
            it = jplan.subqueriesAll().iterator()
            while it.hasNext():
                plans.append(it.next())
        except Exception:
            pass  # older/newer internals: main plan still walked
        for p in plans:
            it = p.collectLeaves().iterator()
            while it.hasNext():
                node = it.next()
                if (node.getClass().getSimpleName()
                        != "UnresolvedRelation"):
                    continue
                parts = node.multipartIdentifier()
                if parts.size() == 1:
                    out.add(parts.apply(0))
        return out

    def sql(self, query: str) -> DataFrame:
        """Raw SQL over cubes (reference ``execute``,
        ``sqlalchemy.py:528-547``) — full Spark SQL surface. Reference
        users SELECT straight from cube tables, so warehouse cubes whose
        names appear in the query are registered as temp views on demand
        (a lazy manifest-resolved read — no scan until the query runs);
        explicitly ``register``-ed views always win, ``_scratch`` /
        unnamed dirs never shadow SQL identifiers, a same-named temp
        view the user created DIRECTLY on the SparkSession is never
        clobbered (only views this lazy path itself registered are
        refreshed), and an INCIDENTAL bare-word match on an unreadable
        cube (a column name or string literal that happens to equal a
        cube name) skips registration instead of aborting the query —
        if the query truly references that cube as a table, Spark's own
        TABLE_OR_VIEW_NOT_FOUND follows and names it."""
        if self.warehouse:
            import re as _re

            # autoviews sql() itself registered, shared SESSION-wide
            # (temp views are per-SparkSession, so per-engine tracking
            # would mistake another engine's autoview for a user view
            # and serve it stale forever): name -> the exact DataFrame
            # this path registered last. Refreshing re-resolves the
            # live manifest; before refreshing, the CURRENT catalog
            # view is compared (sameResult) against the one we
            # registered — a same-named view the user created AFTER
            # our autoview existed is therefore never clobbered (it no
            # longer matches ours), closing the old name-set
            # registry's gap.
            reg = getattr(self.spark, "_mtq_sql_autoviews", None)
            if not isinstance(reg, dict):
                reg = {}
                try:
                    self.spark._mtq_sql_autoviews = reg
                except Exception:
                    pass
            # the names the query actually references AS TABLES: parse
            # it with Spark's own SQL parser and WALK the logical plan
            # for ``UnresolvedRelation`` leaves (main plan + every
            # subquery expression via ``subqueriesAll``), reading each
            # relation's ``multipartIdentifier`` parts directly — a
            # cube name inside a string literal or column alias is no
            # longer a match at all, and a backtick-quoted identifier
            # containing ``]`` or ``,`` (which the earlier
            # plan-STRING-repr regex would mis-extract) round-trips
            # exactly. Only single-part names can be cubes (the
            # warehouse namespace is flat); CTE names collected here
            # are harmless — Spark resolves a CTE before any temp
            # view, so a same-named lazy autoview is shadowed. Parse
            # failure (or an engine without these internals) falls
            # back to the bare-word scan: registration stays
            # best-effort either way, and a truly-referenced missing
            # table still fails with Spark's own not-found error.
            referenced: set | None = None
            try:
                jplan = (self.spark._jsparkSession.sessionState()
                         .sqlParser().parsePlan(query))
                referenced = self._plan_relations(jplan)
            except Exception:
                referenced = None
            for name in self.ls():
                if name in self._views or name.startswith("_"):
                    continue
                if not _re.match(r"^\w+$", name):
                    continue  # not addressable as a bare SQL identifier
                if referenced is not None:
                    if name not in referenced:
                        continue
                elif not _re.search(rf"(?<![\w.`]){name}(?![\w`])",
                                    query):
                    continue
                ours = reg.get(name)
                exists = False
                try:
                    exists = self.spark.catalog.tableExists(name)
                except Exception:
                    pass
                if exists:
                    if ours is None:
                        continue  # user-created view wins
                    try:
                        cur = self.spark.table(name)
                        same = (cur._jdf.queryExecution().analyzed()
                                .sameResult(ours._jdf.queryExecution()
                                            .analyzed()))
                    except Exception:
                        same = False
                    if not same:
                        # the user replaced our autoview since the last
                        # call — theirs wins from now on
                        reg.pop(name, None)
                        continue
                try:
                    df = self.table(name)
                    df.createOrReplaceTempView(name)
                except Exception:
                    continue  # incidental match on an unreadable cube
                reg[name] = df
        return self.spark.sql(query)
