"""The where-language: one parser into a small IR, and its lowerings.

The reference accepts three forms of where clause (reference:
``src/linkml_store/api/queries.py:25``, ``utils/sql_utils.py:35-79``,
``utils/query_utils.py:4-13``): ``None`` (no filter), a raw SQL ``str``
(handed to ``F.expr``), a ``list`` of clauses (ANDed), and a
MongoDB-flavored ``dict``: ``{col: value}`` equality (None -> IS NULL, a
list -> IN, or equality on an array column), ``{col: {"$op": v, ...}}``
operators or raw spellings like ``{">=": v}``, top-level keys ANDed.

:func:`parse_where` is the only reader of that value. It returns a tree of
:class:`And`, :class:`Or`, :class:`Not`, :class:`Raw` SQL, the constants
:data:`TRUE`/:data:`FALSE` and :class:`Pred` ``(path, op, value)`` with one
canonical op per operator (``null eq in gt gte lt lte like regex
contains``, and beyond the reference ``all size mod type elemMatch``).
Spellings, implicit AND, ``None`` -> ``null``, ``$ne``/``$nin``/``$exists``
as Not over ``eq``/``in``/``null``, and the empty combinators (``$and:
[]`` TRUE, ``$or: []`` FALSE, ``$not`` of TRUE FALSE, folded so that a
constant only stands alone) are settled there, and a malformed clause
raises ``ValueError`` there, before any engine runs. ``in`` against an
array column means overlap (``query_utils.py:11``), ``contains`` array
membership (``sql_utils.py:20-25,73``); a ``$elemMatch`` sub-clause reads
one array element (operator keys: the element, other keys: its fields).

Three lowerings read the IR, so the engines cannot drift apart:
:func:`compile_where` builds one Spark ``Column`` (array rules and
``$type`` read the schema; Spark casts the literals; the predicate stays
JVM-side and is pushed to the parquet scan, no Python UDFs);
``operators/localexec.compile_where_local`` an Arrow mask (it coerces
literals or refuses with a reason); :func:`zone_clause` the inputs of the
footer zone-map counts. Dotted paths (``a.b.c``) navigate nested structs;
``a.b[0].c`` indexes into arrays (``utils/object_utils.py:64-100``).
"""

from __future__ import annotations

import operator
import re
from dataclasses import dataclass
from functools import reduce
from typing import Any, Optional, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

WhereClause = Union[None, str, list, dict]

_PATH_SEG = re.compile(r"([^\[\]]+)|\[(\d+)\]")


def quote_ident(name: str) -> str:
    """Backtick-quote a column name for the string forms Spark PARSES as
    identifiers (``F.col``/``groupBy``/``orderBy``) when it contains a
    backtick — an unquoted ``a`b`` raises INVALID_ATTRIBUTE_NAME_SYNTAX.
    Plain names pass through unchanged (quoting a dotted name would also
    change its meaning from nested access to a literal column)."""
    if "`" in name:
        return "`" + name.replace("`", "``") + "`"
    return name


def path_col(path: str) -> Column:
    """Resolve a dotted/bracketed path (``a.b[0].c``) to a Column.

    Plain dotted paths map straight to nested struct access; ``[i]`` segments
    become ``getItem`` calls. Reference: ``object_path_get`` at
    ``utils/object_utils.py:64-100``.
    """
    if "[" not in path:
        if "`" in path and "." not in path:
            return F.col(quote_ident(path))
        return F.col(path)
    col: Optional[Column] = None
    for part in path.split("."):
        for m in _PATH_SEG.finditer(part):
            name, idx = m.group(1), m.group(2)
            if name is not None:
                col = F.col(name) if col is None else col.getField(name)
            else:
                if col is None:
                    raise ValueError(f"path cannot start with an index: {path}")
                col = col.getItem(int(idx))
    if col is None:
        raise ValueError(f"empty path: {path}")
    return col


def _field_type(schema: T.StructType, path: str) -> Optional[T.DataType]:
    """Walk a dotted path through a StructType; None if not resolvable.

    Field access THROUGH an array of structs maps over the array (Spark
    semantics: ``history.organization`` on array<struct> -> array<string>),
    so the result is wrapped back into ArrayType in that case.
    """
    cur: T.DataType = schema
    through_array = False
    for seg in re.sub(r"\[\d+\]", "", path).split("."):
        if isinstance(cur, T.ArrayType):
            cur = cur.elementType
            through_array = True
        if not isinstance(cur, T.StructType):
            return None
        try:
            cur = cur[seg].dataType
        except KeyError:
            return None
    if through_array and not isinstance(cur, T.ArrayType):
        return T.ArrayType(cur)
    return cur


#: Mongo-ish aliases for the $type schema check
_TYPE_NAMES = {
    T.StringType: "string",
    T.LongType: "long",
    T.IntegerType: "int",
    T.DoubleType: "double",
    T.FloatType: "float",
    T.BooleanType: "bool",
    T.TimestampType: "timestamp",
    T.DateType: "date",
    T.ArrayType: "array",
    T.StructType: "object",
    T.MapType: "object",
    T.DecimalType: "decimal",
}


def _type_name(t: Optional[T.DataType]) -> str:
    for cls, name in _TYPE_NAMES.items():
        if isinstance(t, cls):
            return name
    return "null" if t is None else t.simpleString()


# --------------------------------------------------------------------- #
# the IR
# --------------------------------------------------------------------- #

@dataclass(slots=True)
class Pred:
    """``path op value``: one canonical operator on one field path."""

    path: str
    op: str
    value: Any = None


@dataclass(slots=True)
class And:
    args: tuple


@dataclass(slots=True)
class Or:
    args: tuple


@dataclass(slots=True)
class Not:
    arg: Any


@dataclass(slots=True)
class Raw:
    """A raw SQL predicate, passed to ``F.expr`` unread."""

    sql: str


@dataclass(slots=True)
class Const:
    value: bool


TRUE, FALSE = Const(True), Const(False)
Node = Union[Pred, And, Or, Not, Raw, Const]

#: every accepted operator spelling -> its canonical op; raw SQL operator
#: spellings per sql_utils.py:74-75 ("unrecognized dict key treated as raw
#: operator")
_OPS = {
    "$eq": "eq", "=": "eq", "==": "eq",
    "$ne": "ne", "!=": "ne", "<>": "ne",
    "$gt": "gt", ">": "gt", "$gte": "gte", ">=": "gte",
    "$lt": "lt", "<": "lt", "$lte": "lte", "<=": "lte",
    "$in": "in", "in": "in", "$nin": "nin",
    "$like": "like", "like": "like", "$regex": "regex",
    "$contains": "contains", "$exists": "exists", "$not": "not",
    "$all": "all", "$size": "size", "$mod": "mod", "$type": "type",
    "$elemMatch": "elemMatch",
}


def _and(args) -> Node:
    out = []
    for a in args:
        if isinstance(a, Const):
            if not a.value:
                return FALSE
        else:
            out.extend(a.args if isinstance(a, And) else (a,))
    return TRUE if not out else out[0] if len(out) == 1 else And(tuple(out))


def _or(args) -> Node:
    out = []
    for a in args:
        if isinstance(a, Const):
            if a.value:
                return TRUE
        else:
            out.extend(a.args if isinstance(a, Or) else (a,))
    return FALSE if not out else out[0] if len(out) == 1 else Or(tuple(out))


def _not(arg) -> Node:
    if isinstance(arg, Const):
        return FALSE if arg.value else TRUE
    return Not(arg)


def _values(v) -> tuple:
    return tuple(v) if isinstance(v, (list, tuple, set)) else (v,)


def _field(path: str, spec: Any) -> Node:
    """The IR of ``{path: spec}``."""
    if isinstance(spec, dict):
        if not spec:
            raise ValueError(f"empty operator dict on {path!r}")
        return _and([_op(path, op, v) for op, v in spec.items()])
    if spec is None:
        return Pred(path, "null")
    # a list stays an eq: IN on a scalar column, equality on an array one
    return Pred(path, "eq", spec)


def _op(path: str, spelling: str, v: Any) -> Node:
    op = _OPS.get(spelling)
    if op is None:
        raise ValueError(f"unsupported where operator: {spelling!r} on {path!r}")
    if op in ("eq", "ne"):
        p = Pred(path, "null") if v is None else Pred(path, "eq", v)
        return p if op == "eq" else _not(p)
    if op in ("in", "nin"):
        p = Pred(path, "in", _values(v))
        return p if op == "in" else _not(p)
    if op == "exists":
        return _not(Pred(path, "null")) if v else Pred(path, "null")
    if op == "not":
        return _not(_field(path, v))
    if op == "all":
        # MongoDB: {field: {$all: []}} matches NO documents
        vals = _values(v)
        return Pred(path, "all", vals) if vals else FALSE
    if op == "size":
        return Pred(path, "size", int(v))
    if op == "mod":
        divisor, remainder = v
        return Pred(path, "mod", (divisor, remainder))
    if op == "type":
        return Pred(path, "type", str(v).lower())
    if op == "elemMatch":
        if not isinstance(v, dict):
            raise ValueError(f"$elemMatch on {path!r} takes a dict")
        return Pred(path, "elemMatch", _and([
            _op("", k, ev) if k in _OPS or k.startswith("$") else _field(k, ev)
            for k, ev in v.items()
        ]))
    return Pred(path, op, v)


def parse_where(where: WhereClause) -> Node:
    """The IR of any accepted where value."""
    if where is None:
        return TRUE
    if isinstance(where, dict):
        parts = []
        for k, v in where.items():
            # boolean combinators: an extension beyond the reference, whose
            # language stops at per-field operators (sql_utils.py)
            if k == "$or":
                parts.append(_or([parse_where(w) for w in v]))
            elif k == "$and":
                parts.append(_and([parse_where(w) for w in v]))
            elif k == "$not":
                parts.append(_not(parse_where(v)))
            else:
                parts.append(_field(k, v))
        return _and(parts)
    if isinstance(where, str):
        return Raw(where) if where.strip() else TRUE
    if isinstance(where, (list, tuple)):
        return _and([parse_where(w) for w in where])
    raise TypeError(f"unsupported where clause type: {type(where)}")


def referenced_paths(where: WhereClause) -> Optional[set]:
    """The field paths a clause reads, or None when it holds raw SQL."""
    out: set = set()
    stack = [parse_where(where)]
    while stack:
        node = stack.pop()
        if isinstance(node, Raw):
            return None
        if isinstance(node, Pred):
            out.add(node.path)
        elif isinstance(node, Not):
            stack.append(node.arg)
        elif isinstance(node, (And, Or)):
            stack.extend(node.args)
    return out


def under(path: str, column: str) -> bool:
    """True when ``path`` is ``column`` or a dotted descendant of it."""
    return path == column or path.startswith(column + ".")


# --------------------------------------------------------------------- #
# lowering: Spark
# --------------------------------------------------------------------- #

def _eq(c, v, typ):
    if isinstance(v, (list, tuple)) and not isinstance(typ(), T.ArrayType):
        return c.isin(list(v))  # mongo implicit-$in shape
    return c == F.lit(v)


def _in(c, v, typ):
    if isinstance(typ(), T.ArrayType):
        return F.arrays_overlap(c, F.lit(list(v)))
    return c.isin(list(v))


def _contains(c, v, typ):
    if isinstance(typ(), T.ArrayType):
        return F.array_contains(c, F.lit(v))
    return c.contains(v)  # string containment (chromadb-flavored)


def _elem_match(c, sub, typ):
    def pred(e: Column) -> Column:
        return _spark(
            sub, lambda p: e if p == "" else e.getField(p), lambda p: None
        )

    return F.exists(c, pred)


#: canonical op -> (Column, value, lazy column type) -> Column
_SPARK_OPS = {
    "null": lambda c, v, typ: c.isNull(),
    "eq": _eq,
    "in": _in,
    "contains": _contains,
    "gt": lambda c, v, typ: c > F.lit(v),
    "gte": lambda c, v, typ: c >= F.lit(v),
    "lt": lambda c, v, typ: c < F.lit(v),
    "lte": lambda c, v, typ: c <= F.lit(v),
    "like": lambda c, v, typ: c.like(v),
    "regex": lambda c, v, typ: c.rlike(v),
    "all": lambda c, v, typ: reduce(
        operator.and_, [F.array_contains(c, F.lit(x)) for x in v]
    ),
    "size": lambda c, v, typ: F.size(c) == F.lit(v),
    "mod": lambda c, v, typ: c % F.lit(v[0]) == F.lit(v[1]),
    # schema-level check (columnar store: one type per column) — TRUE or
    # FALSE for all rows of the column
    "type": lambda c, v, typ: F.lit(_type_name(typ()) == v),
    "elemMatch": _elem_match,
}


def _spark(node: Node, col_of, type_of) -> Column:
    if isinstance(node, Pred):
        path = node.path
        return _SPARK_OPS[node.op](
            col_of(path), node.value, lambda: type_of(path)
        )
    if isinstance(node, And):
        return reduce(operator.and_, [_spark(a, col_of, type_of) for a in node.args])
    if isinstance(node, Or):
        return reduce(operator.or_, [_spark(a, col_of, type_of) for a in node.args])
    if isinstance(node, Not):
        return ~_spark(node.arg, col_of, type_of)
    if isinstance(node, Raw):
        return F.expr(node.sql)
    return F.lit(node.value)


def compile_where(where: WhereClause, df: Optional[DataFrame] = None) -> Optional[Column]:
    """Compile any accepted where-clause form to a single Column predicate.

    Returns None for an empty clause (caller skips ``.filter``).
    """
    node = parse_where(where)
    if node is TRUE:
        return None
    return _spark(
        node, path_col,
        lambda p: _field_type(df.schema, p) if df is not None else None,
    )


def exclude_column(where: WhereClause, column: str) -> WhereClause:
    """Drop the conjuncts that read only ``column`` (facet exclusion rewrite).

    The reference excludes the facet column's own condition from the WHERE
    when computing that column's facet counts (Solr-style multi-select
    faceting; ``sql_utils.py:110-116``) with a string prefix hack; here a
    top-level entry of a dict clause is dropped when every path its IR
    reads is the column or a dotted descendant of it (a ``$or`` over the
    column alone included). String/list clauses are returned unchanged.
    """
    if not isinstance(where, dict):
        return where

    def own(k, v) -> bool:
        paths = referenced_paths({k: v})
        return bool(paths) and all(under(p, column) for p in paths)

    return {k: v for k, v in where.items() if not own(k, v)}


def apply_where(df: DataFrame, where: WhereClause) -> DataFrame:
    """Filter ``df`` by ``where`` (no-op for empty clauses)."""
    cond = compile_where(where, df)
    return df.filter(cond) if cond is not None else df


# --------------------------------------------------------------------- #
# lowering: footer zone maps
# --------------------------------------------------------------------- #

def _zone_range(col: str, preds):
    """(col, lo, hi, lo_inclusive, hi_inclusive) of range/equality preds
    with non-bool numeric literals, or None."""
    import numbers

    lo = hi = None
    lo_inc = hi_inc = True
    for p in preds:
        v = p.value
        if not isinstance(v, numbers.Number) or isinstance(v, bool):
            return None
        if p.op not in ("gt", "gte", "lt", "lte", "eq"):
            return None
        # two ops of one side ({"$gte": 5, "$gt": 3}) AND together, so the
        # bounds INTERSECT: keep the stricter (ties: exclusive wins)
        if p.op in ("gt", "gte", "eq"):
            inc = p.op != "gt"
            if lo is None or v > lo or (v == lo and not inc):
                lo, lo_inc = v, inc
        if p.op in ("lt", "lte", "eq"):
            inc = p.op != "lt"
            if hi is None or v < hi or (v == hi and not inc):
                hi, hi_inc = v, inc
    return col, lo, hi, lo_inc, hi_inc


def _own_type(v, dt: T.DataType) -> bool:
    """A literal of the column's own type (a string, integral or boolean
    column): a cross-type literal goes through Spark's cast in the plain
    plan, which the value zone map does not mirror."""
    if isinstance(v, bool):
        return isinstance(dt, T.BooleanType)
    if isinstance(v, str):
        return isinstance(dt, T.StringType)
    return isinstance(v, int) and isinstance(
        dt, (T.IntegerType, T.LongType, T.ShortType, T.ByteType)
    )


def zone_clause(where: WhereClause, schema: T.StructType):
    """The footer zone-map inputs of ``where``, or None.

    ``("range", (col, lo, hi, lo_inclusive, hi_inclusive))`` for
    ``operators/topk.range_decision`` when the clause is range/equality
    predicates on one numeric top-level column with non-bool numeric
    literals; else ``("value", (col, values))`` for ``value_decision`` when
    it is one equality/IN on a string, integer or boolean column with
    literals of the column's own type. Deliberately narrow: these are the
    clauses whose zone count is provably the compiled predicate's count
    (string stats may be truncated, string timestamps compare unsafely
    against datetime stats, and array equality means containment).
    """
    node = parse_where(where)
    preds = node.args if isinstance(node, And) else (node,)
    if not all(isinstance(p, Pred) for p in preds):
        return None
    col = preds[0].path
    if any(p.path != col for p in preds) or "." in col or "[" in col:
        return None
    if col not in schema.fieldNames():
        return None
    dt = schema[col].dataType
    if isinstance(dt, T.NumericType):
        rng = _zone_range(col, preds)
        if rng is not None:
            return "range", rng
    p = preds[0]
    if len(preds) == 1 and p.op in ("eq", "in"):
        vals = list(p.value) if isinstance(p.value, (list, tuple)) else [p.value]
        if vals and all(_own_type(v, dt) for v in vals):
            return "value", (col, vals)
    return None


def fast_count(df: DataFrame) -> int:
    """Total row count as a single planned aggregate.

    ``Dataset.count()`` constructs and plans a fresh ``groupBy().count()``
    through Catalyst on *every* call (~40 ms of driver time regardless of
    data size). Expressing the count as an explicit aggregate keeps one
    logical plan per query — same job, one planning pass. At cluster scale
    the difference is noise; at interactive latencies it is the floor.
    """
    return df.agg(F.count(F.lit(1)).alias("n")).collect()[0][0]
