"""Temporal upsert — the reference's one genuinely custom operator,
re-expressed as a distributed merge.

Reference semantics (``metrique/sqlalchemy.py:906-975``):

- ``upsert(autosnap=True)`` (snapshot, branch ``:922-954``): for each
  incoming current-version object — if an open row (same ``_oid``,
  ``_end IS NULL``) exists with a different ``_hash``, close it
  (``_end = new._start``, ``_id = '{oid}:{start}'``) and insert the new row;
  same ``_hash`` → skip (dedup); unknown ``_oid`` → insert.
- ``upsert(autosnap=False)`` (history import, branch ``:955-963``): delete
  ALL versions of the incoming ``_oid``s, insert the supplied full history
  (the batch must contain the complete history per oid).
- ``autosnap=None`` auto-detects: True iff every incoming object is open
  (``:910-915``).

Scale design — the cube is parquet partitioned by a ``_current``
boolean, an oid bucket and a ``__batch`` name, and every commit writes
FRESH directories that a manifest pointer flip publishes atomically
(see ``Engine._manifest_flip``):

- snapshot upsert reads ONLY the open rows of the oid-bucket
  directories the batch's oids hash into, merges them with the batch,
  and writes the result — newly closed rows under a content-token
  ``__batch`` (a retry rewrites the same directory), open rows under
  the generation's ``open-g{gen}`` — in ONE partitioned write. History,
  the ever-growing bulk at 100 TB, is never rewritten on the hot path;
  ``compact`` folds the small closed batches later.
- a trickle commit runs four Spark jobs whatever the batch size: the
  batch checkpoint, whose job also computes the probe (validation,
  autosnap, hit buckets) as observed metrics, the merge
  materialization, one stats-and-token aggregate and the write
  (``Engine._write_dirs``).
- the merge itself is one full-outer sort-merge join on ``_oid`` (a full
  outer join never broadcasts). When its inputs are small — under the
  size at which AQE would coalesce the shuffle to one partition anyway
  (``Engine._one_partition``) — the engine hands both sides over in one
  partition and the join runs with no exchange; otherwise both sides
  are shuffled on ``_oid``.
- the merge plan is two Dataset operations: the full-outer join and ONE
  ``inline`` projection (``merge_sql``) whose SQL text emits each output
  row with its regenerated ``_id`` and its ``_current`` flag. Every
  column is addressed by its quoted name and nothing is re-projected,
  so building the plan costs a few driver→JVM round trips whatever the
  width — at trickle sizes plan construction, not data, was the cost.
- on a production cluster this maps 1:1 onto a Delta Lake ``MERGE INTO``
  (close-then-insert two-action merge); the parquet implementation keeps the
  same logical plan without requiring the Delta runtime in this container.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from metrique_spark.objects import gen_id_sql, sql_ident

# last write wins within a batch: the latest _start per _oid ranks 1
_LATEST = "row_number() OVER (PARTITION BY _oid ORDER BY _start DESC)"


def _regen_id(df: DataFrame) -> DataFrame:
    """Recompute ``_id`` after interval changes (reference ``gen_id``,
    ``core_api.py:73-82``)."""
    return df.withColumn("_id", F.expr(gen_id_sql("_oid", "_start", "_end")))


def latest_per_oid(incoming: DataFrame) -> DataFrame:
    """Last write wins within a batch: keep the latest ``_start`` per
    ``_oid`` (the reference's container buffer keyed by ``_id`` gives the
    same semantics, ``core_api.py:537-540``)."""
    return (incoming.withColumn("__rn", F.expr(_LATEST))
            .where("__rn = 1").drop("__rn"))


def merge_sql(cols: tuple[str, ...]) -> str:
    """The snapshot merge's output rows as ONE SQL generator expression
    over the full-outer join of open rows ``o`` and incoming rows ``n``
    on ``_oid``: each joined row builds its output role(s) — kept /
    inserted / (closed + replacement) — as structs of ``cols`` plus
    ``_current``, with ``_id`` regenerated for each role's interval,
    and ``inline`` turns the non-null ones into rows."""
    # null-safe: a NULL _hash on either side must not void all three
    # output branches (plain = would make every CASE condition NULL and
    # the joined row would emit nothing — the object silently disappears)
    old, new = "o._oid IS NOT NULL", "n._oid IS NOT NULL"
    same = "o._hash <=> n._hash"

    def side(p: str, closed: bool = False) -> str:
        end = "n._start" if closed else f"{p}._end"
        vals = {c: f"{p}.{sql_ident(c)}" for c in cols}
        vals["_end"] = end
        vals["_id"] = gen_id_sql(f"{p}._oid", f"{p}._start", end)
        fields = [f"{v} AS {sql_ident(c)}" for c, v in vals.items()]
        return (f"struct({', '.join(fields)}, "
                f"{'false' if closed else 'true'} AS _current)")

    roles = [
        # open row survives unchanged: no incoming, or incoming is a dup
        f"CASE WHEN {old} AND (NOT ({new}) OR {same}) THEN {side('o')} END",
        # incoming lands: brand-new oid, or changed hash
        f"CASE WHEN {new} AND (NOT ({old}) OR NOT ({same})) "
        f"THEN {side('n')} END",
        # changed: the old open row is closed at the incoming _start
        f"CASE WHEN {old} AND {new} AND NOT ({same}) "
        f"THEN {side('o', closed=True)} END",
    ]
    return f"inline(filter(array({', '.join(roles)}), r -> r IS NOT NULL))"


def snapshot_merge_tagged(open_rows: DataFrame, incoming: DataFrame) -> DataFrame:
    """Single-pass snapshot merge: ONE full-outer join on ``_oid`` and
    ONE generator projection (``merge_sql``) emitting every output row
    with the incoming columns in their order, the regenerated ``_id``
    and a ``_current`` flag (false on the rows this batch closed).
    ``open_rows`` must carry the incoming columns (extra columns, such
    as a cube read's partition keys, are ignored).

    The one-pass shape is load-bearing at scale: filtering the join three
    times (kept/inserted/closed as separate branches) re-executes the join
    per branch — measured 9 exchanges vs 4 for this plan.

    ``incoming`` must hold at most one row per ``_oid`` (the engine
    applies ``latest_per_oid`` first); arriving hash-partitioned by
    ``_oid`` from that dedup window, it joins without another exchange.
    When both sides come in one partition (a small commit, see
    ``Engine._one_partition``), neither side is exchanged.
    """
    joined = open_rows.alias("o").join(
        incoming.alias("n"), F.expr("o._oid = n._oid"), "full_outer")
    return joined.selectExpr(merge_sql(tuple(incoming.columns)))


BROADCAST_KEYS_CAP = 10_000_000
# estimated in-memory bytes of the broadcast build side a forced hint may
# claim on every executor. 10M longs (~160 MB at 16 B/row) stay under it;
# 10M git-SHA string oids (~1 GB as JVM strings) do not — the row cap
# alone would force-broadcast exactly the memory cliff it exists to avoid
BROADCAST_KEYS_BYTES = 256 * 1024 * 1024


def key_row_bytes(dtype, avg_len: float | None) -> float:
    """Estimated per-row in-memory footprint of a one-column key frame on
    the broadcast build side: JVM object/row overhead (~16 B) plus UTF-16
    payload for string keys (2 B/char at ``avg_len``); fixed-width
    numerics/timestamps are overhead-only. Deliberately rough — it only
    needs to separate "tens of MB" from "a GB"."""
    from pyspark.sql import types as T

    if isinstance(dtype, (T.StringType, T.BinaryType)):
        return 16.0 + 2.0 * (avg_len or 0.0)
    return 16.0


def broadcast_fits(n: int, row_bytes: float) -> bool:
    """True while a key frame of ``n`` rows at ``row_bytes`` each stays
    inside both the row cap and the byte cap."""
    return n <= BROADCAST_KEYS_CAP and n * row_bytes <= BROADCAST_KEYS_BYTES


def maybe_broadcast_keys(keys: DataFrame) -> DataFrame:
    """Broadcast-hint a slim key frame only while it plausibly fits the
    build side: a bulk history import can carry hundreds of millions of
    oids, and a FORCED broadcast of that set is an executor-memory cliff —
    beyond the cap the anti-join falls back to a plain shuffle join, which
    is exactly the right plan at that volume. The cap is BYTE-aware, not
    just row-count-aware: the same 10M rows are ~160 MB as longs but a GB+
    as the reference's git-SHA string oids, so string keys also measure
    their average width (same single aggregate job the row count already
    cost) and fall back to shuffle when the estimated build side outgrows
    ``BROADCAST_KEYS_BYTES``."""
    from pyspark.sql import types as T

    key = keys.columns[0]
    dtype = keys.schema[0].dataType
    if isinstance(dtype, (T.StringType, T.BinaryType)):
        row = keys.agg(F.count(F.lit(1)).alias("n"),
                       F.avg(F.length(key)).alias("w")).first()
        n, rb = row["n"], key_row_bytes(dtype, row["w"])
    else:
        n, rb = keys.count(), key_row_bytes(dtype, None)
    return F.broadcast(keys) if broadcast_fits(n, rb) else keys


def history_replace(table: DataFrame, incoming: DataFrame) -> DataFrame:
    """History import: drop every stored version of the incoming oids, then
    union the supplied full history (reference ``sqlalchemy.py:955-963``).
    Anti-join on ``_oid`` (broadcast when under the cap, shuffle
    beyond — see ``maybe_broadcast_keys``) + union — no per-row
    logic."""
    keys = incoming.select("_oid").distinct()
    kept = table.join(maybe_broadcast_keys(keys), "_oid", "left_anti")
    return kept.unionByName(_regen_id(incoming).selectExpr(
        *map(sql_ident, table.columns)))
