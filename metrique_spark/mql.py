"""MQL — the metrique query language, compiled to Spark ``Column`` predicates.

The reference parses MQL (a restricted Python expression) with ``ast.parse``
and interprets it into SQLAlchemy clauses (reference:
``metrique/parse.py:133-287``). This module is the same idea targeting
``pyspark.sql.Column``: the IR is the Python AST; the output plugs straight
into ``df.where(...)`` so Catalyst sees a plain predicate tree and can push
it down to the scan.

Grammar supported (parity with reference ``parse.py``):

- comparisons ``== != > >= < <=`` on scalar columns
- ``in [..]`` / ``not in [..]``
- ``and`` / ``or`` / ``not`` with arbitrary nesting
- array-field comparisons: ``f == v`` → any element equals (SQL ``ANY``),
  ``f != v`` → all elements differ (SQL ``ALL``), ``in``/``not in``
  (reference ``parse.py:201-208``)
- ``regex('pat')`` / ``iregex('pat')`` on scalars and arrays
  (reference ``parse.py:227-245``)
- ``empty(field)`` — array field is empty (reference ``parse.py:272-276``)
- ``date("...")`` — date literal (reference ``parse.py:277-283``)
- literals: numbers, strings, lists/tuples, ``None/True/False``

Temporal range predicates (``date_range_predicate``) reproduce the exact
boundary semantics of reference ``parse.py:74-130`` (pinned by reference
``tests/test_parse.py:54-76``): strict ``<`` on ``_start``, ``>=`` on
``_end``.
"""

from __future__ import annotations

import ast
import datetime as _dt
from typing import Iterable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from metrique_spark.objects import sql_string


class MQLError(ValueError):
    """Raised when an MQL expression cannot be compiled."""


# ---------------------------------------------------------------------------
# date coercion


def to_timestamp_lit(value) -> Column:
    """Coerce a python value (ISO string / epoch number / datetime) to a
    timestamp literal Column. The reference normalizes all datetimes to UTC
    epoch floats (``utils.py:432-457``); we use proper TimestampType and
    coerce at this boundary.
    """
    if isinstance(value, Column):
        return value
    if isinstance(value, (int, float)):
        return F.timestamp_seconds(F.lit(value))
    if isinstance(value, _dt.datetime):
        return F.lit(value)
    if isinstance(value, str):
        v = value.strip().replace("T", " ")
        return F.to_timestamp(F.lit(v))
    raise MQLError(f"cannot interpret {value!r} as a date")


def to_timestamp_sql(value: str) -> str:
    """``to_timestamp_lit`` of a string, as SQL text."""
    return f"to_timestamp({sql_string(value.strip().replace('T', ' '))})"


def date_range_sql(date: str | None) -> str | None:
    """Temporal-range predicate over ``_start``/``_end``, as SQL text.

    Exact reference semantics (``parse.py:74-130``):

    - ``None``/empty → current versions only: ``_end IS NULL``
    - ``'~'``       → all history: no predicate (returns ``None``)
    - ``'d'``       → as-of d: ``_start < d AND (_end >= d OR _end IS NULL)``
      (objects true strictly BEFORE d; d itself excluded from ``_start``)
    - ``'d~'``      → ``_end >= d OR _end IS NULL``
    - ``'~d'``      → ``_start < d``
    - ``'d1~d2'``   → overlap: ``_start < d2 AND (_end >= d1 OR _end IS NULL)``
    """
    if isinstance(date, str):
        date = date.strip()
    if not date:
        return "_end IS NULL"
    if date == "~":
        return None

    def before(d: str) -> str:
        return f"_start < {to_timestamp_sql(d)}"

    def after(d: str) -> str:
        return f"(_end >= {to_timestamp_sql(d)} OR _end IS NULL)"

    split = [s.strip() for s in date.split("~")]
    if len(split) == 1:
        return f"{before(split[0])} AND {after(split[0])}"
    if len(split) != 2:
        raise MQLError(f"bad date range: {date!r}")
    lo, hi = split
    if not lo:
        return before(hi)
    if not hi:
        return after(lo)
    return f"{before(hi)} AND {after(lo)}"


def date_range_predicate(date: str | None) -> Column | None:
    """``date_range_sql`` as a ``Column`` (None for ``'~'``)."""
    sql = date_range_sql(date)
    return None if sql is None else F.expr(sql)


def date_start_upper_bound(date: str | None) -> str | None:
    """The strict upper bound U the date spec places on ``_start``
    (every matching row has ``_start < U``), or None when the spec
    leaves ``_start`` unbounded. Drives partition pruning on cubes laid
    out with a ``_start``-derived time partition (engine
    ``time_partition``): a row in period P can satisfy ``_start < U``
    only if ``P <= period(U)``, so the scan skips later periods
    entirely. Mirrors ``date_range_predicate``'s grammar exactly."""
    if isinstance(date, str):
        date = date.strip()
    if not date or date == "~":
        return None
    split = [s.strip() for s in date.split("~")]
    if len(split) == 1:
        return split[0]
    if len(split) != 2:
        raise MQLError(f"bad date range: {date!r}")
    return split[1] or None


def date_end_lower_bound(date: str | None) -> str | None:
    """The lower bound L the date spec places on ``_end`` (every
    matching CLOSED row has ``_end >= L``; open rows always match), or
    None when the spec leaves ``_end`` unbounded. Drives planning-time
    directory skipping on manifested cubes whose commit recorded per-
    directory ``max(_end)`` stats: a closed directory with
    ``max_end < L`` cannot contain a matching row, so an as-of read of
    a long history touches only the directories overlapping the probe
    date. Mirrors ``date_range_predicate``'s grammar exactly."""
    if isinstance(date, str):
        date = date.strip()
    if not date or date == "~":
        return None
    split = [s.strip() for s in date.split("~")]
    if len(split) == 1:
        return split[0]
    if len(split) != 2:
        raise MQLError(f"bad date range: {date!r}")
    return split[0] or None


def date_is_current_only(date: str | None) -> bool:
    """True when the spec selects only CURRENT versions (``_end IS
    NULL``) — the empty/None spec. Lets the engine prune the scan to the
    ``_current=true`` partition (the open snapshot) instead of reading
    every history directory and filtering on ``_end``'s column stats."""
    if isinstance(date, str):
        date = date.strip()
    return not date


# ---------------------------------------------------------------------------
# the compiler


_SCALAR_OPS = {
    "Eq": lambda l, r: l.eqNullSafe(r) if r is None else (l == r),
    "NotEq": lambda l, r: ~l.eqNullSafe(r) if r is None else (l != r),
    "Gt": lambda l, r: l > r,
    "GtE": lambda l, r: l >= r,
    "Lt": lambda l, r: l < r,
    "LtE": lambda l, r: l <= r,
}


def _array_field_names(df_or_fields) -> set[str]:
    if isinstance(df_or_fields, DataFrame):
        df_or_fields = df_or_fields.schema
    if isinstance(df_or_fields, T.StructType):
        return {
            f.name for f in df_or_fields.fields
            if isinstance(f.dataType, T.ArrayType)
        }
    return set(df_or_fields or ())


class _Compiler(ast.NodeVisitor):
    """AST → Column. Mirrors reference ``MQLInterpreter`` dispatch
    (``parse.py:164-287``) but emits Spark Column expressions."""

    def __init__(self, arrays: set[str], columns: set[str] | None):
        self.arrays = arrays
        self.columns = columns  # None = unknown schema, accept any name

    # entry -----------------------------------------------------------------
    def compile(self, query: str) -> Column:
        try:
            tree = ast.parse(query, mode="eval")
        except SyntaxError as e:
            raise MQLError(f"invalid MQL: {query!r}: {e}") from e
        out = self.p(tree.body)
        if not isinstance(out, Column):
            raise MQLError(f"MQL must be a boolean expression: {query!r}")
        return out

    def p(self, node):
        meth = getattr(self, f"p_{type(node).__name__}", None)
        if meth is None:
            raise MQLError(f"unsupported MQL construct: {type(node).__name__}")
        return meth(node)

    # boolean ---------------------------------------------------------------
    def p_BoolOp(self, node: ast.BoolOp) -> Column:
        parts = [self.p(v) for v in node.values]
        out = parts[0]
        for part in parts[1:]:
            out = (out & part) if isinstance(node.op, ast.And) else (out | part)
        return out

    def p_UnaryOp(self, node: ast.UnaryOp):
        if isinstance(node.op, ast.Not):
            return ~self.p(node.operand)
        if isinstance(node.op, ast.USub):
            operand = self.p(node.operand)
            if isinstance(operand, (int, float)):
                return -operand
        raise MQLError("unsupported unary op")

    # comparisons -----------------------------------------------------------
    def p_Compare(self, node: ast.Compare) -> Column:
        if len(node.comparators) != 1:
            raise MQLError("chained comparisons not supported")
        op = type(node.ops[0]).__name__
        left_name = node.left.id if isinstance(node.left, ast.Name) else None
        left = self.p(node.left)
        right = self.p(node.comparators[0])

        if isinstance(right, tuple) and right[0] in ("regex", "iregex"):
            return self._regex(left, op, right, left_name in self.arrays)

        if left_name in self.arrays:
            return self._array_compare(left, op, right)
        return self._scalar_compare(left, op, right)

    def _scalar_compare(self, left: Column, op: str, right) -> Column:
        if op == "In":
            return left.isin(list(right))
        if op == "NotIn":
            return ~left.isin(list(right))
        if op in _SCALAR_OPS:
            return _SCALAR_OPS[op](left, right)
        raise MQLError(f"unsupported comparison: {op}")

    def _array_compare(self, left: Column, op: str, right) -> Column:
        # reference parse.py:201-208 — Eq is ANY (exists-element),
        # NotEq is ALL (no element equals).
        if op == "Eq":
            return F.array_contains(left, right)
        if op == "NotEq":
            # plain three-valued negation reproduces Postgres ``ALL`` exactly
            # (reference backend): NULL array -> NULL -> excluded; an array
            # with NULL elements and no match -> NULL -> excluded
            return ~F.array_contains(left, right)
        if op == "In":
            return F.arrays_overlap(left, F.array(*[F.lit(v) for v in right]))
        if op == "NotIn":
            return ~F.arrays_overlap(left, F.array(*[F.lit(v) for v in right]))
        raise MQLError(f"unsupported array comparison: {op}")

    def _regex(self, left: Column, op: str, right: tuple, is_array: bool) -> Column:
        kind, pat = right
        if kind == "iregex":
            pat = f"(?i){pat}"
        if is_array:
            # reference's commuted ``~@`` operator (parse.py:232-239) — any
            # element matches. Higher-order function keeps this JVM-side.
            expr = F.exists(left, lambda e: e.rlike(pat))
        else:
            expr = left.rlike(pat)
        if op == "Eq":
            return expr
        if op == "NotEq":
            return ~expr
        raise MQLError(f"unsupported regex comparison: {op}")

    # atoms -----------------------------------------------------------------
    def p_Name(self, node: ast.Name):
        if node.id in ("None", "True", "False"):  # py2-style literals
            return {"None": None, "True": True, "False": False}[node.id]
        if self.columns is not None and node.id not in self.columns:
            raise MQLError(f"unknown field: {node.id}")
        return F.col(node.id)

    def p_Constant(self, node: ast.Constant):
        return node.value

    def p_List(self, node: ast.List):
        return [self.p(e) for e in node.elts]

    def p_Tuple(self, node: ast.Tuple):
        return [self.p(e) for e in node.elts]

    # calls -----------------------------------------------------------------
    def p_Call(self, node: ast.Call):
        if not isinstance(node.func, ast.Name):
            raise MQLError("unsupported call")
        fname = node.func.id
        if fname == "empty":
            if len(node.args) != 1 or not isinstance(node.args[0], ast.Name):
                raise MQLError("empty expects 1 field argument")
            name = node.args[0].id
            if name not in self.arrays:
                raise MQLError(f"expected array field: {name}")
            return F.size(F.col(name)) == 0
        if fname == "date":
            if len(node.args) != 1:
                raise MQLError("date expects 1 argument")
            return to_timestamp_lit(self.p(node.args[0]))
        if fname in ("regex", "iregex"):
            if len(node.args) != 1:
                raise MQLError(f"{fname} expects 1 argument")
            return (fname, self.p(node.args[0]))
        raise MQLError(f"unknown function: {fname}")


def compile_mql(
    query: str,
    df: DataFrame | T.StructType | None = None,
    arrays: Iterable[str] | None = None,
) -> Column:
    """Compile an MQL query string to a Spark ``Column`` predicate.

    Pass ``df`` (a DataFrame or its schema) so array-typed fields get the
    reference's ANY/ALL semantics and unknown field names fail fast;
    without it, all fields are treated as scalars unless listed in
    ``arrays``.
    """
    if df is not None:
        arr = _array_field_names(df)
        cols = set((df.schema if isinstance(df, DataFrame) else df).names)
    else:
        arr = set(arrays or ())
        cols = None
    return _Compiler(arr, cols).compile(query)


def oid_literal_set(query: str | None,
                    field: str = "_oid") -> set | None:
    """The set of ``field`` values rows matching ``query`` can possibly
    carry, derived conjunctively from the query's AST — or ``None`` when
    the query does not bound the field. This is a PRUNING hint, not a
    row filter: a row satisfies the query only if its ``field`` value is
    in the returned set, so a bucketed-cube scan may skip every bucket
    directory no returned value hashes into (the MQL-string analog of
    the explicit ``oids=`` fast path — reference users write point
    lookups as ``find(query='_oid == X')``, ``parse.py:164-287`` has no
    partition notion to exploit; Spark does). Sound rules only:

    - ``_oid == lit`` / ``_oid in [lits]`` bound to those literals;
    - ``a and b`` intersects whichever sides are bound (a conjunct can
      only narrow);
    - ``a or b`` unions, but only when EVERY branch is bound;
    - anything else — ``not``, ``!=``, ``not in``, ranges, a non-literal
      comparand, ``field`` on the right — is unbounded (``None``).

    An EMPTY set is a valid result (``_oid == 1 and _oid == 2``): no row
    can match. ``None`` literals make a branch unbounded rather than
    guessing at SQL null-equality semantics."""
    if not query:
        return None
    try:
        tree = ast.parse(query, mode="eval").body
    except SyntaxError:
        return None

    def const(n):
        if (isinstance(n, ast.Constant)
                and isinstance(n.value, (str, int, float))
                and not isinstance(n.value, bool)):
            return n.value
        if (isinstance(n, ast.UnaryOp) and isinstance(n.op, ast.USub)
                and isinstance(n.operand, ast.Constant)
                and isinstance(n.operand.value, (int, float))
                and not isinstance(n.operand.value, bool)):
            return -n.operand.value
        return None

    def walk(n) -> set | None:
        if isinstance(n, ast.BoolOp):
            parts = [walk(v) for v in n.values]
            if isinstance(n.op, ast.And):
                bound = [p for p in parts if p is not None]
                if not bound:
                    return None
                out = bound[0]
                for p in bound[1:]:
                    out = out & p
                return out
            if any(p is None for p in parts):  # Or
                return None
            out = set()
            for p in parts:
                out |= p
            return out
        if isinstance(n, ast.Compare) and len(n.comparators) == 1:
            left, op, right = n.left, n.ops[0], n.comparators[0]
            if not (isinstance(left, ast.Name) and left.id == field):
                return None
            if isinstance(op, ast.Eq):
                v = const(right)
                return None if v is None else {v}
            if (isinstance(op, ast.In)
                    and isinstance(right, (ast.List, ast.Tuple))):
                vals = [const(e) for e in right.elts]
                if vals and all(v is not None for v in vals):
                    return set(vals)
            return None
        return None

    return walk(tree)


def parse_fields(fields) -> list[str] | None:
    """Projection normalization (reference ``parse.py:37-71``): accepts
    ``'a,b,c'`` / list / ``{field: 1}`` dict; ``'~'``/None/True/[] → all
    fields (returns None meaning ``select *``)."""
    if fields in (None, True, False, [], (), {}, "", "~"):
        return None
    if isinstance(fields, str):
        out = [f.strip() for f in fields.split(",") if f.strip()]
    elif isinstance(fields, dict):
        out = [k for k, v in fields.items() if v]
    elif isinstance(fields, (list, tuple, set)):
        out = [str(f).strip() for f in fields]
    else:
        raise MQLError(f"cannot parse fields: {fields!r}")
    return sorted(out)
