"""Columnar object "stamp" — the reference's per-object prep pipeline as one
``select``.

The reference prepares each object in a Python loop (``core_api.py:424-524``:
normalize keys → typecast → stamp ``_id``/``_hash``/``_start``/``_end``) at
~8-17k values/s single-process (``core_api.py:466-479``). Here the whole
pipeline is column expressions inside whole-stage codegen — no Python in the
row path, so it scales with executors.

System fields (reference ``core_api.py:85-131``):

- ``_oid``  — entity id, required non-null (``core_api.py:76-77``)
- ``_start``/``_end`` — validity interval; ``_start`` defaults to now,
  ``_end`` NULL = current version; invariant ``_end >= _start``
  (``core_api.py:107-115``)
- ``_id``   — ``str(_oid)`` for current versions, ``'{_oid}:{_start}'`` for
  closed ones (``gen_id``, ``core_api.py:73-82``)
- ``_hash`` — content hash over all fields except
  ``('_hash','_id','_start','_end','__v__','id')`` (``core_api.py:69``),
  used for change detection on upsert. We use
  ``sha1(to_json(struct(<sorted user cols>)))`` — deterministic and
  column-order-canonical, not byte-identical to the reference's
  python-repr-based hash (``utils.py:719-745``); equality semantics are what
  upsert needs, not the exact digest.
- ``_v`` / ``__v__`` / ``_e`` — schema version, library version, errors.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

SYSTEM_FIELDS = ("_id", "_oid", "_hash", "_start", "_end", "_v", "__v__", "_e")

# fields excluded from content hashing (reference core_api.py:69)
HASH_EXCLUDE = ("_hash", "_id", "_start", "_end", "__v__", "id")


def content_hash(df: DataFrame, exclude: tuple[str, ...] = HASH_EXCLUDE) -> Column:
    """SHA1 over a canonical JSON of the sorted non-excluded fields."""
    cols = sorted(c for c in df.columns if c not in exclude and c not in ("_v", "_e"))
    if not cols:
        return F.lit(None).cast("string")
    return F.sha1(F.to_json(F.struct(*[F.col(c) for c in cols])))


def normalize_key(name: str) -> str:
    """Field-name normalization: lowercase alphanumeric+underscore
    (reference ``core_api.py:247-249,412-419``)."""
    out = "".join(ch if ch.isalnum() or ch == "_" else "_" for ch in name.strip())
    out = out.lower()
    if out and out[0].isdigit():
        out = "_" + out
    return out


def _epoch_or_ts(col: Column, dtype: T.DataType) -> Column:
    """Coerce epoch floats / strings / timestamps to TimestampType (the
    reference normalizes everything to UTC epoch float, utils.py:432-457;
    we normalize to timestamp)."""
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.LongType, T.IntegerType)):
        return F.timestamp_seconds(col)
    if isinstance(dtype, T.StringType):
        return F.to_timestamp(col)
    return col.cast("timestamp")


def stamp(
    df: DataFrame,
    oid: str | Column = "_oid",
    start: str | Column | None = None,
    end: str | Column | None = None,
    schema_version: int = 0,
    normalize_keys: bool = True,
    sort_arrays: bool = True,
) -> DataFrame:
    """Turn an arbitrary source DataFrame into a versioned-object DataFrame.

    One declarative ``select`` replacing the reference's per-object
    ``_prep_object`` loop (``core_api.py:424-464``):

    - renames columns to normalized keys; drops reserved ``id``
      (``core_api.py:97-102``)
    - sorts array-typed ("container") fields (``core_api.py:490-498``) so
      hashes are order-insensitive, matching the reference's sort-at-ingest
    - stamps ``_oid`` (from ``oid`` column/expr), ``_start`` (default now),
      ``_end`` (default NULL), ``_hash``, ``_id``, ``_v``, ``__v__``
    """
    from metrique_spark import __version__

    work = df
    if normalize_keys:
        renames = {c: normalize_key(c) for c in work.columns}
        for old, new in renames.items():
            if old != new:
                work = work.withColumnRenamed(old, new)
    if "id" in work.columns:  # reserved for backend autoincrement
        work = work.drop("id")

    if sort_arrays:
        for f in work.schema.fields:
            if isinstance(f.dataType, T.ArrayType):
                work = work.withColumn(f.name, F.array_sort(F.col(f.name)))

    oid_col = F.col(oid) if isinstance(oid, str) else oid
    work = work.withColumn("_oid", oid_col)

    by_name = {f.name: f.dataType for f in work.schema.fields}
    if start is not None:
        c = F.col(start) if isinstance(start, str) else start
        dt = by_name.get(start) if isinstance(start, str) else None
        work = work.withColumn("_start", _epoch_or_ts(c, dt) if dt else c.cast("timestamp"))
    elif "_start" not in work.columns:
        work = work.withColumn("_start", F.current_timestamp())
    if end is not None:
        c = F.col(end) if isinstance(end, str) else end
        dt = by_name.get(end) if isinstance(end, str) else None
        work = work.withColumn("_end", _epoch_or_ts(c, dt) if dt else c.cast("timestamp"))
    elif "_end" not in work.columns:
        work = work.withColumn("_end", F.lit(None).cast("timestamp"))

    if "_e" not in work.columns:
        # errors map always present post-ingest (reference field list pin,
        # tests/test_cubes_builtin.py:42-44); NULL = no issues recorded
        work = work.withColumn(
            "_e", F.lit(None).cast("map<string,string>"))

    work = work.withColumn("_hash", content_hash(work))
    # gen_id (core_api.py:73-82): current → str(oid); closed → 'oid:start'
    work = work.withColumn(
        "_id",
        F.when(F.col("_end").isNull(), F.col("_oid").cast("string")).otherwise(
            F.concat_ws(":", F.col("_oid").cast("string"),
                        F.col("_start").cast("timestamp").cast("double")
                        .cast("string"))
        ),
    )
    work = work.withColumn("_v", F.lit(schema_version)).withColumn(
        "__v__", F.lit(__version__)
    )
    return work


def validity_checks() -> list[Column]:
    """The aggregate columns ``validate`` checks — exposed so a caller
    that already runs one aggregate over a batch (the engine's commit
    probe) folds these checks into it instead of paying a second pass."""
    return [
        F.sum(F.col("_oid").isNull().cast("int")).alias("null_oid"),
        F.sum((F.col("_end") < F.col("_start")).cast("int")).alias("bad_interval"),
    ]


def raise_invalid(row) -> None:
    """Raise ``validate``'s errors from a row carrying the
    ``validity_checks`` aggregates."""
    if row["null_oid"]:
        raise ValueError(f"{row['null_oid']} objects with null _oid")
    if row["bad_interval"]:
        raise ValueError(f"{row['bad_interval']} objects with _end < _start")


def validate(df: DataFrame) -> None:
    """Cheap invariant checks (reference asserts per object,
    ``core_api.py:76-77,114-115``): raises on null ``_oid`` or
    ``_end < _start``. One aggregate pass, no collect of data rows."""
    raise_invalid(df.select(*validity_checks()).first())


def assign_autoincrement(df: DataFrame, col: str = "id",
                         dense: bool = False) -> DataFrame:
    """The reference reserves ``id`` for backend autoincrement
    (``core_api.py:98``); Spark has no sequence, so:

    - ``dense=False`` (scale default): ``monotonically_increasing_id`` —
      unique, increasing, zero-shuffle, computed inside the scan stage;
      values are sparse (partition id in the high bits), which is what a
      distributed engine can give for free.
    - ``dense=True``: contiguous 0..n-1 via ``zipWithIndex`` — two passes
      (one to count partitions, one to stamp) but NO global sort; use only
      where a downstream system requires gapless ids.
    """
    if not dense:
        return df.withColumn(col, F.monotonically_increasing_id())
    spark = df.sparkSession
    schema = T.StructType(
        list(df.schema.fields) + [T.StructField(col, T.LongType(), False)])
    rdd = df.rdd.zipWithIndex().map(lambda t: (*t[0], t[1]))
    return spark.createDataFrame(rdd, schema)
