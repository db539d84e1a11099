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


def sql_ident(name: str) -> str:
    """``name`` as a backtick-quoted SQL identifier: the column it names
    is ``name`` whatever it contains (spaces, dots, backticks)."""
    return "`" + name.replace("`", "``") + "`"


def sql_string(s: str) -> str:
    """``s`` as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def hash_sql(cols: dict[str, str]) -> str:
    """``_hash`` as SQL text over ``cols`` (column name → the SQL
    expression of its value): SHA1 over a canonical JSON of the sorted
    non-excluded fields. The struct's field names and their sorted order
    are what the digest covers — every stored object's hash depends on
    them."""
    names = sorted(c for c in cols
                   if c not in HASH_EXCLUDE and c not in ("_v", "_e"))
    if not names:
        return "CAST(NULL AS STRING)"
    fields = ", ".join(f"{cols[c]} AS {sql_ident(c)}" for c in names)
    return f"sha1(to_json(struct({fields})))"


def gen_id_sql(oid: str, start: str, end: str) -> str:
    """``_id`` as SQL text over the SQL expressions of ``_oid``,
    ``_start`` and ``_end`` (reference ``gen_id``,
    ``core_api.py:73-82``): current → ``str(oid)``; closed →
    ``'{oid}:{start}'``."""
    o = f"CAST({oid} AS STRING)"
    return (f"CASE WHEN ({end}) IS NULL THEN {o} ELSE concat_ws(':', {o}, "
            f"CAST(CAST(CAST({start} AS TIMESTAMP) AS DOUBLE) AS STRING)) END")


def normalize_key(name: str) -> str:
    """Field-name normalization: lowercase alphanumeric+underscore
    (reference ``core_api.py:247-249,412-419``)."""
    out = "".join(ch if ch.isalnum() or ch == "_" else "_" for ch in name.strip())
    out = out.lower()
    if out and out[0].isdigit():
        out = "_" + out
    return out


def _epoch_or_ts(sql: str, dtype: T.DataType | None) -> str:
    """Coerce epoch floats / strings / timestamps to TimestampType (the
    reference normalizes everything to UTC epoch float, utils.py:432-457;
    we normalize to timestamp) — SQL text over the value's SQL."""
    if isinstance(dtype, (T.DoubleType, T.FloatType, T.LongType, T.IntegerType)):
        return f"timestamp_seconds({sql})"
    if isinstance(dtype, T.StringType):
        return f"to_timestamp({sql})"
    return f"CAST({sql} AS TIMESTAMP)"


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
    ``_prep_object`` loop (``core_api.py:424-464``), built as SQL text so
    the plan costs a handful of driver→JVM calls whatever the width:

    - renames columns to normalized keys (one ``toDF`` first, only when
      a name changes); drops reserved ``id`` (``core_api.py:97-102``)
    - sorts array-typed ("container") fields (``core_api.py:490-498``) so
      hashes are order-insensitive, matching the reference's sort-at-ingest
    - stamps ``_oid`` (from ``oid`` column/expr), ``_start`` (default now),
      ``_end`` (default NULL), ``_e`` (NULL), ``_hash``, ``_id``, ``_v``,
      ``__v__``; a system column the input already carries keeps its
      position, the others append in that order

    ``_hash`` covers the sorted non-excluded output columns under their
    names (``hash_sql``), so the digest of an object does not depend on
    how the frame was built. A ``Column`` passed as ``oid``, ``start`` or
    ``end`` (or a name that is not a top-level column) is evaluated over
    the renamed input, before arrays are sorted."""
    from metrique_spark import __version__

    fields = df.schema.fields
    names = [normalize_key(f.name) if normalize_keys else f.name
             for f in fields]
    if names != [f.name for f in fields]:
        df = df.toDF(*names)
    types = {n: f.dataType for n, f in zip(names, fields)}
    # output column -> SQL of its value, in output order
    out = {n: (f"array_sort({sql_ident(n)})"
               if sort_arrays and isinstance(types[n], T.ArrayType)
               else sql_ident(n))
           for n in names if n != "id"}  # id: backend autoincrement

    def value(arg: str | Column, tmp: str) -> tuple[str, T.DataType | None]:
        if isinstance(arg, str) and arg in out:
            return out[arg], types.get(arg)
        nonlocal df
        df = df.withColumn(tmp, F.col(arg) if isinstance(arg, str) else arg)
        return sql_ident(tmp), None

    out["_oid"], types["_oid"] = value(oid, "__stamp_oid")
    for name, arg in (("_start", start), ("_end", end)):
        if arg is not None:
            sql, dt = value(arg, f"__stamp{name}")
            out[name] = (_epoch_or_ts(sql, dt) if isinstance(arg, str) and dt
                         else f"CAST({sql} AS TIMESTAMP)")
        elif name not in out:
            out[name] = ("current_timestamp()" if name == "_start"
                         else "CAST(NULL AS TIMESTAMP)")
    if "_e" not in out:
        # errors map always present post-ingest (reference field list pin,
        # tests/test_cubes_builtin.py:42-44); NULL = no issues recorded
        out["_e"] = "CAST(NULL AS MAP<STRING, STRING>)"
    out["_hash"] = hash_sql(out)
    out["_id"] = gen_id_sql(out["_oid"], out["_start"], out["_end"])
    out["_v"] = str(int(schema_version))
    out["__v__"] = sql_string(__version__)
    return df.selectExpr(*[f"{v} AS {sql_ident(n)}" for n, v in out.items()])


def validity_checks() -> list[str]:
    """The aggregates ``validate`` checks, as SQL text — exposed so a
    caller that already runs one aggregate over a batch (the engine's
    commit probe) folds these checks into it instead of paying a second
    pass."""
    return ["sum(CAST(_oid IS NULL AS INT)) AS null_oid",
            "sum(CAST(_end < _start AS INT)) AS bad_interval"]


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
    raise_invalid(df.selectExpr(*validity_checks()).first())


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
