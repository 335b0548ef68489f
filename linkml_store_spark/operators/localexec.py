"""Driver-local Arrow execution tier for footer-small stores.

THE PROBLEM (BENCH rounds 1-8, SCALING.md attribution): every Spark query
pays a 30-70 ms per-job floor (DAGScheduler submit -> task launch -> run ->
collect) that no user-level plan avoids. Against an in-process engine whose
whole answer takes 3-68 ms at sf0.1, that floor IS the ratio — the round-8
attribution measured all twelve benchmark shapes floor-dominated with the
plans already optimal. An in-process engine pays no such floor because it
never schedules: the scan runs in the caller's thread.

THE FIX, Photon-in-reverse: when the persisted store is provably tiny —
parquet footer metadata (exact, truncation-free ``num_rows``) says the
whole table is under its class's :data:`LOCAL_TIER_CAPS` entry —
``Collection.query`` routes the compiled predicate/sort/page through
THIS module and evaluates the same semantics with Arrow C++ kernels in
the driver process. Zero Spark jobs, zero scheduling floor — exactly the
in-process execution a single-node engine gets for free.

THE STORE IMAGE: the kernels evaluate over a :class:`StoreImage`, one
in-memory Arrow table per collection and store version. Its columns load
from the parquet files on first use (only the columns a call needs and
the image lacks), string columns stay dictionary-encoded where the file
has them, and the decoded form of a dictionary column and the matrix of
a vector column are kept once computed. So repeated reads of a store
version decode its parquet once, not once per call. A write drops the
image; resident images share one least-recently-used budget of
:data:`LOCAL_TIER_MAX_BYTES`. The kernels also take a plain file list,
read into a transient image for that call.

SCALE SAFETY (the 100 TB story): this tier is a *latency* optimization
with a hard size guard, not an execution strategy. The gate reads exact
footer row counts (``num_rows`` is metadata, never an estimate) and
refuses when the store exceeds the row or byte caps (bytes are the
footers' UNCOMPRESSED total_byte_size — what driver memory pays), when any
referenced type/operator falls outside the faithfully-mirrored subset, or
when footers are unavailable. A 100 TB store never comes within six
orders of magnitude of the gate; every plan it refuses runs the normal
distributed path unchanged. Correctness never depends on this module.

ROUTING is static: :func:`local_tier_admits` decides from the footer
row count, the uncompressed byte total and the call's shape class
(``count``, ``page``, ``agg``, ``facet``, ``knn``). A call runs here when
its rows are within that class's :data:`LOCAL_TIER_CAPS` entry and its
bytes within :data:`LOCAL_TIER_MAX_BYTES`; each cap is the largest
measured rung at which this tier won the class on every measured box
(``tools/localtier_scale.py``, SCALING.md "Local-vs-JVM crossover").
Value parity with the Spark path is pinned by the test suite
(``tests/test_localexec.py`` and the property tests), not re-checked at
runtime. An ``Unsupported`` refusal or any exception here runs the Spark
path instead. ``SPARK_GRAFT_LOCAL_TIER=0`` turns the tier off.

SEMANTIC MIRROR: the where-compiler here accepts only the subset of the
Mongo-style where-language (``where.py``) it can reproduce EXACTLY with
Arrow kernels — per-field ``$eq/$ne/$gt/$gte/$lt/$lte/$in/$nin/$like/
$contains/$exists``, raw-operator spellings, implicit AND, ``$or/$and/
$not`` (Kleene three-valued logic via ``and_kleene``/``or_kleene``/
``invert``, matching Spark's SQL semantics: NULL comparisons drop rows,
``$ne``/``$nin`` are null-rejecting). Dotted paths, ``$regex`` (Java
vs RE2 dialect risk), ``$size/$mod/$all/$elemMatch/$type``, array-typed
columns, decimal/map columns, and raw-SQL clauses all REFUSE — the Spark
path owns them. Known accepted divergence (shared with the zone-map count
routes): Spark orders NaN above all doubles and equates NaN=NaN, IEEE/
Arrow do not — same caveat as ``collection._simple_range_clause``.

Reference parity note: the reference engine (e.g.
``src/linkml_store/api/stores/duckdb/duckdb_collection.py``) runs
in-process for ALL sizes; this tier gives its users the same interactive
latency on small collections without giving up the distributed plans that
are this engine's reason to exist.
"""

from __future__ import annotations

import logging
import os
import threading
import weakref
from collections import OrderedDict
from datetime import date, datetime
from typing import Any, Callable, Dict, List, Optional, Sequence, Tuple

__all__ = [
    "LOCAL_TIER_CAPS",
    "LOCAL_TIER_MAX_BYTES",
    "LOCAL_TIER_COLUMN",
    "local_tier_enabled",
    "local_tier_admits",
    "footer_totals",
    "Unsupported",
    "compile_where_local",
    "local_count",
    "local_page",
    "local_facets",
    "local_knn",
    "knn_top",
    "StoreImage",
    "VectorIndex",
]

#: DEBUG log of store-image loads and evictions, and (from ``Collection``)
#: of local-tier calls that fell back to the Spark path
log = logging.getLogger("linkml_store_spark.localtier")

#: shape class -> the largest exact footer row count this tier serves.
#: The classes cross over at different sizes (SCALING.md "Local-vs-JVM
#: crossover": on the 32-core box the JVM scan already wins counts and
#: aggregates at 5M rows while the local select-k still wins top-k
#: pages), so each class has its own cap: the largest ladder rung at
#: which the local tier won that class on every measured box. Facet and
#: kNN, unmeasured on the 32-core box, are also held to their nearest
#: measured class there (group-agg) or to a clear win (kNN at 5M won by
#: 4% on 4 cores, inside the noise).
LOCAL_TIER_CAPS = {
    "count": 1_000_000,
    "page": 5_000_000,
    "agg": 1_000_000,
    "facet": 1_000_000,
    "knn": 1_000_000,
}

#: byte cap over the footers' UNCOMPRESSED row-group total_byte_size (the
#: parquet spec's total_byte_size is the uncompressed size, the measure
#: that bounds driver memory): a store of wide documents must not drag
#: gigabytes through the driver whatever its row count
LOCAL_TIER_MAX_BYTES = 1 << 30

#: prefix of the pseudo-column names that ``arrowagg.ab_winner`` reads as
#: a local-tier shape class; any other column name reports the Spark route
LOCAL_TIER_COLUMN = "__local_tier__"


def local_tier_column(kind: str) -> str:
    """The pseudo-column naming one shape class (count, page, agg, facet
    or knn) for ``arrowagg.ab_winner``."""
    return LOCAL_TIER_COLUMN + kind


def local_tier_enabled() -> bool:
    return os.environ.get("SPARK_GRAFT_LOCAL_TIER", "1") != "0"


def footer_totals(metas) -> Tuple[int, int]:
    """(rows, uncompressed bytes) of a store from its ``[(file,
    FileMetaData)]`` footers — the two numbers the routing gate reads."""
    rows = sum(md.num_rows for _fp, md in metas)
    nbytes = sum(
        md.row_group(i).total_byte_size
        for _fp, md in metas
        for i in range(md.num_row_groups)
    )
    return rows, nbytes


def local_tier_admits(kind: str, total_rows: int, total_bytes: int) -> bool:
    """The routing predicate: True when a ``kind`` call over a store of
    ``total_rows`` footer rows and ``total_bytes`` uncompressed bytes runs
    on this tier. Every local-tier entry point and ``ab_winner`` ask it."""
    return (
        local_tier_enabled()
        and total_rows <= LOCAL_TIER_CAPS[kind]
        and total_bytes <= LOCAL_TIER_MAX_BYTES
    )


class Unsupported(Exception):
    """Raised by the compiler for anything outside the mirrored subset —
    the caller falls back to the Spark path (never a user-visible error)."""


# --------------------------------------------------------------------- #
# where-clause -> Arrow mask compiler
# --------------------------------------------------------------------- #

def _pa():
    import pyarrow as pa  # deferred: the tier must not tax module import
    import pyarrow.compute as pc

    return pa, pc


def _decode_dict(arr):
    """Plain (non-dictionary) view of a possibly dictionary-encoded array."""
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if isinstance(arr.type, pa.DictionaryType):
        return arr.dictionary_decode()
    return arr


def _dict_pred(arr, pred: Callable):
    """Evaluate a value-predicate over a possibly dictionary-encoded array.

    Dictionary fast path: evaluate over the (tiny) dictionary once, then
    project through the codes with ``take`` — the per-row cost is one
    int-indexed load instead of a string compare. NULL codes take NULL,
    which every caller's Kleene combination then drops, exactly like the
    engine's SQL semantics.
    """
    import pyarrow as pa

    if isinstance(arr, pa.ChunkedArray):
        arr = arr.combine_chunks()
    if isinstance(arr.type, pa.DictionaryType):
        return pred(arr.dictionary).take(arr.indices)
    return pred(arr)


def _coerce_literal(v: Any, typ) -> Any:
    """Mirror Spark's literal-vs-column cast for the supported types, or
    raise Unsupported. The rules are deliberately narrower than Spark's
    cast matrix: only coercions whose comparison result is provably
    identical pass (e.g. int literal on a double column is exact; a float
    literal on an int column would recast the COLUMN in Spark — refuse)."""
    import pyarrow.types as pt

    if v is None:
        return None
    if pt.is_string(typ) or pt.is_large_string(typ):
        if isinstance(v, str):
            return v
    elif pt.is_integer(typ):
        if isinstance(v, int) and not isinstance(v, bool):
            return v
    elif pt.is_floating(typ):
        if isinstance(v, (int, float)) and not isinstance(v, bool):
            return float(v)
    elif pt.is_boolean(typ):
        if isinstance(v, bool):
            return v
    elif pt.is_timestamp(typ):
        if typ.tz is not None:
            raise Unsupported("tz-aware timestamp literal comparison")
        if isinstance(v, datetime):
            return v if v.tzinfo is None else _refuse_tz(v)
        if isinstance(v, str):
            try:
                # Spark's string->timestamp cast on the ISO forms the
                # where-language actually uses ('YYYY-MM-DD[ HH:MM:SS[.f]]')
                return datetime.fromisoformat(v)
            except ValueError:
                raise Unsupported(f"unparseable timestamp literal {v!r}")
    elif pt.is_date(typ):
        if isinstance(v, date) and not isinstance(v, datetime):
            return v
        if isinstance(v, str):
            try:
                return date.fromisoformat(v)
            except ValueError:
                raise Unsupported(f"unparseable date literal {v!r}")
    raise Unsupported(f"literal {type(v).__name__} vs column type {typ}")


def _refuse_tz(v):
    raise Unsupported("tz-aware datetime literal")


def _dict_value_type(typ):
    import pyarrow as pa

    return typ.value_type if isinstance(typ, pa.DictionaryType) else typ


class _Cond:
    """A compiled condition: a callable (cols: {name: Array}) -> BooleanArray
    (three-valued: NULL where SQL says NULL), plus the columns it reads."""

    __slots__ = ("fn", "cols")

    def __init__(self, fn, cols):
        self.fn = fn
        self.cols = cols


def _c_eq(name, lit):
    _pa_, pc = _pa()
    if lit is None:
        # IS NULL: two-valued by construction
        return _Cond(lambda cols: pc.is_null(_decode_dict(cols[name])), {name})
    return _Cond(lambda cols: _dict_pred(cols[name], lambda a: pc.equal(a, lit)), {name})


def _c_ne(name, lit):
    _pa_, pc = _pa()
    if lit is None:
        return _Cond(lambda cols: pc.is_valid(_decode_dict(cols[name])), {name})
    return _Cond(
        lambda cols: _dict_pred(cols[name], lambda a: pc.not_equal(a, lit)), {name}
    )


def _c_cmp(name, lit, op):
    _pa_, pc = _pa()
    kern = {"gt": pc.greater, "gte": pc.greater_equal,
            "lt": pc.less, "lte": pc.less_equal}[op]
    return _Cond(lambda cols: _dict_pred(cols[name], lambda a: kern(a, lit)), {name})


def _c_in(name, lits):
    pa, pc = _pa()
    if not lits:
        raise Unsupported("empty IN list")
    if any(l is None for l in lits):
        raise Unsupported("NULL in IN-list")
    vs = pa.array(list(lits))

    def fn(cols):
        arr = cols[name]
        m = _dict_pred(arr, lambda a: pc.is_in(a, value_set=vs))
        # three-valued IN: is_in maps NULL inputs to FALSE, but Spark's
        # col.isin(...) yields NULL there — FALSE vs NULL both drop at the
        # filter, but invert differently under $not, so restore the NULLs
        # (over codes: a NULL code yields a NULL condition, NULL either way)
        return pc.if_else(
            _dict_pred(arr, pc.is_valid), m, pa.scalar(None, pa.bool_())
        )

    return _Cond(fn, {name})


def _c_nin(name, lits):
    # Spark's $nin is ~col.isin(...): NULL rows stay NULL (dropped by the
    # filter), and a further $not brings back NULL, not TRUE — so NOT IN
    # is exactly the Kleene inversion of the three-valued IN above
    return _c_not(_c_in(name, lits))


def _c_like(name, pattern):
    _pa_, pc = _pa()
    return _Cond(
        lambda cols: _dict_pred(cols[name], lambda a: pc.match_like(a, pattern)),
        {name},
    )


def _c_contains(name, needle):
    _pa_, pc = _pa()
    return _Cond(
        lambda cols: _dict_pred(
            cols[name], lambda a: pc.match_substring(a, needle)
        ),
        {name},
    )


def _c_and(conds):
    _pa_, pc = _pa()
    from functools import reduce

    cols = set().union(*[c.cols for c in conds])
    return _Cond(
        lambda cs: reduce(lambda a, b: pc.and_kleene(a, b), [c.fn(cs) for c in conds]),
        cols,
    )


def _c_or(conds):
    _pa_, pc = _pa()
    from functools import reduce

    cols = set().union(*[c.cols for c in conds])
    return _Cond(
        lambda cs: reduce(lambda a, b: pc.or_kleene(a, b), [c.fn(cs) for c in conds]),
        cols,
    )


def _c_not(cond):
    _pa_, pc = _pa()
    return _Cond(lambda cs: pc.invert(cond.fn(cs)), set(cond.cols))


_SUPPORTED_OPS = {
    "$eq", "$ne", "$gt", "$gte", "$lt", "$lte", "$in", "$nin",
    "$like", "$contains", "$exists", "$not",
    "=", "==", "!=", "<>", ">", ">=", "<", "<=", "in", "like",
}

_CMP_ALIASES = {
    "$gt": "gt", ">": "gt", "$gte": "gte", ">=": "gte",
    "$lt": "lt", "<": "lt", "$lte": "lte", "<=": "lte",
}


def _col_type(schema, name: str):
    """Arrow type of a plain top-level column, or Unsupported."""
    import pyarrow as pa

    if not isinstance(name, str) or "." in name or "[" in name or name.startswith("$"):
        raise Unsupported(f"non-plain column {name!r}")
    idx = schema.get_field_index(name)
    if idx < 0:
        raise Unsupported(f"unknown column {name!r}")
    typ = _dict_value_type(schema.field(idx).type)
    if isinstance(typ, (pa.ListType, pa.LargeListType, pa.MapType, pa.StructType)):
        raise Unsupported(f"nested column {name!r} in predicate")
    import pyarrow.types as pt

    if pt.is_decimal(typ):
        raise Unsupported("decimal predicate")
    return typ


def _compile_field(name: str, spec: Any, schema) -> _Cond:
    typ = _col_type(schema, name)
    if isinstance(spec, dict):
        conds = []
        for op, v in spec.items():
            if op not in _SUPPORTED_OPS:
                raise Unsupported(f"operator {op!r}")
            if op == "$exists":
                conds.append(_c_ne(name, None) if v else _c_eq(name, None))
            elif op == "$not":
                conds.append(_c_not(_compile_field(name, v, schema)))
            elif op in ("$eq", "=", "=="):
                conds.append(_c_eq(name, _coerce_literal(v, typ)))
            elif op in ("$ne", "!=", "<>"):
                conds.append(_c_ne(name, _coerce_literal(v, typ)))
            elif op in _CMP_ALIASES:
                lit = _coerce_literal(v, typ)
                if lit is None:
                    raise Unsupported("NULL range literal")
                conds.append(_c_cmp(name, lit, _CMP_ALIASES[op]))
            elif op in ("$in", "in"):
                vals = v if isinstance(v, (list, tuple, set)) else [v]
                conds.append(_c_in(name, [_coerce_literal(x, typ) for x in vals]))
            elif op == "$nin":
                vals = v if isinstance(v, (list, tuple, set)) else [v]
                conds.append(_c_nin(name, [_coerce_literal(x, typ) for x in vals]))
            elif op in ("$like", "like"):
                if not isinstance(v, str):
                    raise Unsupported("non-string LIKE pattern")
                _require_string(typ)
                conds.append(_c_like(name, v))
            elif op == "$contains":
                if not isinstance(v, str):
                    raise Unsupported("non-string $contains needle")
                _require_string(typ)
                conds.append(_c_contains(name, v))
        if not conds:
            raise Unsupported("empty operator dict")
        return conds[0] if len(conds) == 1 else _c_and(conds)
    if isinstance(spec, (list, tuple)):
        return _c_in(name, [_coerce_literal(x, typ) for x in spec])
    return _c_eq(name, _coerce_literal(spec, typ))


def _require_string(typ):
    import pyarrow.types as pt

    if not (pt.is_string(typ) or pt.is_large_string(typ)):
        raise Unsupported("string operator on non-string column")


def _nullable_in_values(spec) -> bool:
    vals = spec if isinstance(spec, (list, tuple, set)) else [spec]
    return any(v is None for v in vals)


def compile_where_local(where, schema) -> Optional[_Cond]:
    """Compile a where-clause to an Arrow mask evaluator, or None for the
    empty clause. Raises :class:`Unsupported` for anything outside the
    mirrored subset (see module docstring) — including NULL inside $in/$nin
    value lists, whose SQL semantics ($in never matches NULL rows via IN,
    but the where-language compiles eq-None to IS NULL only for bare
    equality) are not worth mirroring here."""
    if where is None:
        return None
    if isinstance(where, (str,)):
        raise Unsupported("raw SQL clause")
    if isinstance(where, (list, tuple)):
        if not where:
            return None
        raise Unsupported("raw SQL fragment list")
    if not isinstance(where, dict):
        raise Unsupported(f"clause type {type(where).__name__}")
    if not where:
        return None
    conds: List[_Cond] = []
    for k, v in where.items():
        if k == "$or":
            subs = [compile_where_local(w, schema) for w in v]
            if not subs:
                raise Unsupported("empty $or")
            if any(s is None for s in subs):
                continue  # vacuous TRUE disjunct => no filter contribution
            conds.append(_c_or(subs))
        elif k == "$and":
            subs = [s for s in (compile_where_local(w, schema) for w in v) if s is not None]
            if subs:
                conds.append(_c_and(subs))
        elif k == "$not":
            inner = compile_where_local(v, schema)
            if inner is None:
                raise Unsupported("$not of vacuous clause")  # FALSE: rare, let Spark
            conds.append(_c_not(inner))
        else:
            if isinstance(v, dict) and any(x is None for x in v.values() if not isinstance(x, (list, tuple, set))):
                # operator dicts with None operands: only $eq/$ne/$exists
                # handle None; the compile below raises where appropriate
                pass
            if (isinstance(v, (list, tuple)) and _nullable_in_values(v)) or (
                isinstance(v, dict)
                and any(
                    op in ("$in", "$nin", "in") and _nullable_in_values(val)
                    for op, val in v.items()
                )
            ):
                raise Unsupported("NULL in IN-list")
            conds.append(_compile_field(k, v, schema))
    if not conds:
        return None
    return conds[0] if len(conds) == 1 else _c_and(conds)


# --------------------------------------------------------------------- #
# execution
# --------------------------------------------------------------------- #

def _string_cols(schema, names) -> List[str]:
    import pyarrow.types as pt

    out = []
    for n in names:
        idx = schema.get_field_index(n)
        t = _dict_value_type(schema.field(idx).type)
        if pt.is_string(t) or pt.is_large_string(t):
            out.append(n)
    return out


def _has_dict_pages(metas, name: str) -> bool:
    """True when every column chunk of ``name`` in the footers starts with
    a dictionary page: the writer's own encoding choice, which the image
    keeps (Spark falls back to plain pages for high-cardinality strings,
    whose dictionary would cost more than the values)."""
    for _fp, md in metas:
        for i in range(md.num_row_groups):
            rg = md.row_group(i)
            chunk = next(
                (rg.column(j) for j in range(rg.num_columns)
                 if rg.column(j).path_in_schema == name),
                None,
            )
            if chunk is None or not chunk.has_dictionary_page:
                return False
    return True


#: images admitted to the process-wide budget, least recently used first:
#: id -> weak reference (a collection that drops its image drops it here)
_RESIDENT: "OrderedDict[int, weakref.ref]" = OrderedDict()
_RESIDENT_LOCK = threading.Lock()


def resident_bytes() -> int:
    """Bytes held by every resident store image together."""
    return sum(img.nbytes for img in _resident_images())


def _resident_images() -> List["StoreImage"]:
    images = (ref() for ref in list(_RESIDENT.values()))
    return [img for img in images if img is not None]


def _touch(img: "StoreImage") -> None:
    """Mark ``img`` most recently used, then evict least recently used
    images until the resident bytes fit :data:`LOCAL_TIER_MAX_BYTES` — an
    image that alone exceeds it is evicted too, after the call holding
    its columns finishes with them."""
    if not img.resident:
        return
    with _RESIDENT_LOCK:
        key = id(img)
        if key not in _RESIDENT:
            _RESIDENT[key] = weakref.ref(
                img, lambda _r, k=key: _RESIDENT.pop(k, None)
            )
        _RESIDENT.move_to_end(key)
        images = _resident_images()
        total = sum(i.nbytes for i in images)
        for victim in images:
            if total <= LOCAL_TIER_MAX_BYTES:
                break
            total -= victim.nbytes
            log.debug(
                "store image %s: evicted %d bytes (columns %s), "
                "%d resident", victim.name, victim.nbytes,
                victim.columns_loaded, total,
            )
            victim.release()


def _single(col):
    """A one-chunk ChunkedArray's chunk (the image combines at load)."""
    return col.chunk(0) if col.num_chunks == 1 else col.combine_chunks()


class StoreImage:
    """One store version held in process as Arrow columns — the *image*
    every local-tier kernel evaluates over, so repeated reads of a
    collection decode its parquet once per store version instead of
    once per call.

    Columns load on first use: a call reads from the files only the
    columns the image lacks, each file's chunks combined once, and keeps
    string columns dictionary-encoded where the file has them (predicates
    then run over codes, :func:`_dict_pred`). Rows stay in file order.
    Derived forms — the decoded values of a dictionary column and the
    ``(matrix, norms)`` of a vector column — are computed once and kept
    with the columns. A resident image counts against a process-wide
    least-recently-used budget of :data:`LOCAL_TIER_MAX_BYTES`; an
    evicted image reloads on its next use. ``metas`` are the store's
    ``[(file, FileMetaData)]`` footers."""

    __slots__ = ("metas", "schema", "name", "resident", "table", "_derived",
                 "nbytes", "__weakref__")

    def __init__(self, metas, schema, name: str = "", resident: bool = True):
        self.metas = list(metas)
        self.schema = schema
        self.name = name
        self.resident = resident
        self.table = None  # the loaded columns, in schema order
        self._derived: Dict[Tuple[str, str], Any] = {}
        #: ``Table.nbytes`` of the loaded columns plus the derived forms,
        #: measured whenever either grows
        self.nbytes = 0

    @classmethod
    def of(cls, source, schema) -> "StoreImage":
        """``source`` when it is an image; else a transient image (outside
        the resident budget) of the parquet file list ``source``."""
        if isinstance(source, cls):
            return source
        import pyarrow.parquet as pq

        return cls([(p, pq.read_metadata(p)) for p in source], schema,
                   resident=False)

    @property
    def num_rows(self) -> int:
        return sum(md.num_rows for _fp, md in self.metas)

    @property
    def columns_loaded(self) -> List[str]:
        table = self.table  # one read: another thread may evict
        return [] if table is None else list(table.column_names)

    def _measure(self) -> None:
        table = self.table  # one read: another thread may evict
        n = 0 if table is None else table.nbytes
        for v in list(self._derived.values()):
            n += sum(x.nbytes for x in v) if isinstance(v, tuple) else v.nbytes
        self.nbytes = n

    def release(self) -> None:
        """Drop every loaded column and derived form."""
        self.table = None
        self._derived = {}
        self.nbytes = 0
        _RESIDENT.pop(id(self), None)

    def _load(self, names):
        """The loaded columns as a Table, after reading the ``names`` it
        lacks (a reference that outlives an eviction of this image)."""
        import pyarrow as pa
        import pyarrow.parquet as pq

        base = self.table  # one read: another thread may evict
        have = set() if base is None else set(base.column_names)
        want = set(names)
        missing = [f.name for f in self.schema
                   if f.name in want and f.name not in have]
        if want - have - set(missing):
            raise Unsupported(f"columns {sorted(want - have)} not in the store")
        if not missing:
            _touch(self)
            return base
        if not self.metas:
            raise Unsupported("store without parquet files")
        dict_cols = [c for c in _string_cols(self.schema, missing)
                     if _has_dict_pages(self.metas, c)]
        parts = [
            pq.ParquetFile(fp, metadata=md, read_dictionary=dict_cols)
            .read(columns=missing, use_threads=True)
            for fp, md in self.metas
        ]
        new = pa.concat_tables(parts).combine_chunks()
        cols = {n: base.column(n) for n in have}
        cols.update((n, new.column(n)) for n in missing)
        order = [f.name for f in self.schema if f.name in cols]
        table = self.table = pa.Table.from_arrays(
            [cols[n] for n in order], names=order
        )
        self._measure()
        if self.resident:
            log.debug("store image %s: loaded %s, %d bytes",
                      self.name, missing, self.nbytes)
        _touch(self)
        return table

    def columns(self, names) -> Dict[str, Any]:
        """``{name: Array}`` of ``names``, each a single Arrow array."""
        table = self._load(names)
        return {n: _single(table.column(n)) for n in names}

    def column(self, name: str):
        return self.columns([name])[name]

    def select(self, names: Sequence[str]):
        """A Table of ``names`` (repeats allowed), in that order."""
        import pyarrow as pa

        cols = self.columns(names)
        return pa.Table.from_arrays([cols[n] for n in names], names=list(names))

    def _memo(self, key, build):
        hit = self._derived.get(key)
        if hit is None:
            hit = self._derived[key] = build()
            self._measure()
            _touch(self)
        return hit

    def decoded(self, name: str):
        """Plain values of a column (a dictionary column decoded once) —
        for sort keys, group keys and facet values."""
        import pyarrow as pa

        col = self.column(name)
        if not isinstance(col.type, pa.DictionaryType):
            return col
        return self._memo(("decoded", name), lambda: col.dictionary_decode())

    def vectors(self, name: str):
        """``(matrix, norms)`` of a vector column (:func:`vector_matrix`,
        :func:`row_norms`)."""
        def build():
            X = vector_matrix(self.column(name))
            return X, row_norms(X)

        return self._memo(("vectors", name), build)


def local_count(files, schema, cond: Optional[_Cond],
                total_rows: int) -> int:
    """COUNT(*) under the compiled condition. ``files`` is a
    :class:`StoreImage` or a parquet file list (read into a transient
    image); only the predicate's columns load."""
    _pa_, pc = _pa()

    if cond is None:
        return int(total_rows)
    img = StoreImage.of(files, schema)
    mask = cond.fn(img.columns(cond.cols))
    return int(pc.sum(mask).as_py() or 0)  # NULL mask rows are dropped


def _localize_value(v, tzinfo):
    if isinstance(v, datetime):
        if v.tzinfo is not None:
            v = v.astimezone(tzinfo).replace(tzinfo=None)
        if type(v) is not datetime and hasattr(v, "to_pydatetime"):
            # nested ns timestamps surface as pandas.Timestamp — Spark
            # rows hold stdlib datetimes (microsecond precision)
            v = v.to_pydatetime()
        return v
    if isinstance(v, dict):
        return {k: _localize_value(x, tzinfo) for k, x in v.items()}
    if isinstance(v, list):
        return [_localize_value(x, tzinfo) for x in v]
    return v


def _table_to_dicts(tbl, session_tz: Optional[str]) -> List[dict]:
    """Row dicts matching Spark's ``Row.asDict(recursive=True)`` on the
    same data: tz-aware parquet timestamps (Spark-written stores are
    UTC-adjusted) come back as naive datetimes in the SESSION timezone,
    exactly what ``collect()`` returns for TimestampType. Nanosecond
    columns (Spark's INT96 output) are cast to microseconds first —
    TimestampType IS microsecond precision, and ``to_pylist`` on ns
    yields ``pandas.Timestamp`` objects instead of stdlib datetimes."""
    import pyarrow as pa

    needs_pass = False
    for i, f in enumerate(tbl.schema):
        if isinstance(f.type, pa.TimestampType):
            if f.type.unit == "ns":
                tbl = tbl.set_column(
                    i, f.name,
                    tbl.column(i).cast(pa.timestamp("us", tz=f.type.tz)),
                )
            if f.type.tz is not None:
                needs_pass = True
        elif "timestamp" in str(f.type):
            # timestamps nested inside structs/lists: the top-level cast
            # can't reach them — take the per-value fix-up path
            needs_pass = True
    rows = tbl.to_pylist()
    if not rows or not needs_pass:
        return rows
    tzinfo = _resolve_tz(session_tz)
    return [_localize_value(r, tzinfo) for r in rows]


def _resolve_tz(session_tz: Optional[str]):
    if session_tz:
        try:
            from zoneinfo import ZoneInfo

            return ZoneInfo(session_tz)
        except (KeyError, ValueError):
            # ZoneInfoNotFoundError is a KeyError; a malformed key is a
            # ValueError: fall through to the system timezone
            pass
    return datetime.now().astimezone().tzinfo


def _check_output_types(schema, columns: Sequence[str]) -> None:
    """Refuse output shapes whose ``to_pylist`` differs from Spark's
    ``Row.asDict`` (maps come back as lists of pairs in Arrow)."""
    for n in columns:
        idx = schema.get_field_index(n)
        if idx < 0:
            raise Unsupported(f"unknown select column {n!r}")
        if "map<" in str(schema.field(idx).type):
            raise Unsupported("map-typed output column")


def local_page(
    files,
    schema,
    cond: Optional[_Cond],
    select_cols: Optional[Sequence[str]],
    sort_specs: Sequence[Tuple[str, bool]],
    offset: int,
    limit: Optional[int],
    session_tz: Optional[str] = None,
) -> List[dict]:
    """The page (sorted/offset/limited row dicts) under the compiled
    condition: :func:`local_count_page` without the count."""
    img = StoreImage.of(files, schema)
    return local_count_page(
        img, schema, cond, select_cols, sort_specs, offset, limit,
        img.num_rows, session_tz=session_tz,
    )[1]


def local_count_page(
    files,
    schema,
    cond: Optional[_Cond],
    select_cols: Optional[Sequence[str]],
    sort_specs: Sequence[Tuple[str, bool]],
    offset: int,
    limit: Optional[int],
    total_rows: int,
    session_tz: Optional[str] = None,
) -> Tuple[int, List[dict]]:
    """(pre-pagination COUNT, page rows) — the reference ``Query``
    contract: ``num_rows`` is the total match count, ``rows`` the page.
    ``files`` is a :class:`StoreImage` or a parquet file list.

    One mask pass gives the matching row indices; their number is the
    count (``total_rows`` when there is no condition). ``sort_specs`` —
    [(column, descending)], NULLS LAST both directions (the engine's
    pinned ordering, collection._sort_col) — rank only the sort keys of
    the matching rows; an unsorted page keeps file order. ``limit`` None
    = unlimited. Only the page's rows of the output columns are taken."""
    pa, pc = _pa()

    img = StoreImage.of(files, schema)
    out_cols = list(select_cols) if select_cols else [f.name for f in schema]
    _check_output_types(schema, out_cols)
    sort_cols = list(dict.fromkeys(c for c, _d in sort_specs))
    for c in sort_cols:
        _col_type(schema, c)  # plain, non-nested, known
    hits = None  # matching row indices in file order; None = every row
    n = int(total_rows)
    if cond is not None:
        hits = pc.indices_nonzero(cond.fn(img.columns(cond.cols)))  # NULL drops
        n = len(hits)
    if offset >= n:
        return n, []
    page = img.select(out_cols)
    if sort_specs:
        keys_tbl = pa.table({c: img.decoded(c) for c in sort_cols})
        if hits is not None:
            keys_tbl = keys_tbl.take(hits)
        keys = [(c, "descending" if d else "ascending") for c, d in sort_specs]
        k_eff = None if limit is None else offset + limit
        no_nulls = all(keys_tbl.column(c).null_count == 0 for c in sort_cols)
        if (k_eff is not None and k_eff <= 100_000 and no_nulls
                and k_eff < keys_tbl.num_rows):
            idx = pc.select_k_unstable(keys_tbl, k=k_eff, sort_keys=keys)
        else:
            idx = pc.sort_indices(keys_tbl, sort_keys=keys,
                                  null_placement="at_end")
        idx = idx.slice(offset, limit) if limit is not None else idx.slice(offset)
        page = page.take(idx if hits is None else hits.take(idx))
    else:
        rows = page if hits is None else hits  # unsorted: file order
        rows = rows.slice(offset, limit) if limit is not None else rows.slice(offset)
        page = rows if hits is None else page.take(rows)
    return n, _table_to_dicts(page, session_tz)


# --------------------------------------------------------------------- #
# facets
# --------------------------------------------------------------------- #

def _facet_sort_key(vc):
    """count desc, value asc with NULL first — the engine's pinned facet
    tie order (facets._finish_facet_single / query_facets zone path)."""
    v, c = vc
    if isinstance(v, tuple):
        return (-c,) + tuple((x is not None, x if x is not None else 0) for x in v)
    return (-c, v is not None, v if v is not None else 0)


def local_facets(
    files,
    schema,
    cond_for: Callable[[Any], Optional[_Cond]],
    facet_columns: Sequence,
    facet_limit: int,
    facet_min_count: int,
) -> Dict[Any, List[Tuple]]:
    """Facet counts {column: [(value, count), ...]} over the store
    (``files``: a :class:`StoreImage` or a parquet file list) — pyarrow
    ``value_counts`` over each column's decoded values (compound facets
    group over the decoded tuple table). ``cond_for(column)`` returns the
    compiled post-exclusion condition for that facet column (the
    multi-select exclusion rewrite happens in the caller against the
    where-language, not here)."""
    pa, pc = _pa()

    img = StoreImage.of(files, schema)
    results: Dict[Any, List[Tuple]] = {}
    for col in facet_columns:
        cols = [col] if isinstance(col, str) else list(col)
        for c in cols:
            _col_type(schema, c)  # plain + supported or Unsupported
        cond = cond_for(col)
        mask = None if cond is None else cond.fn(img.columns(cond.cols))
        if len(cols) == 1:
            vals = img.decoded(cols[0])
            if mask is not None:
                vals = vals.filter(mask)  # NULL mask -> dropped
            vc = pc.value_counts(vals)
            counts = zip(vc.field("values").to_pylist(),
                         vc.field("counts").to_pylist())
        else:
            sub = pa.Table.from_arrays([img.decoded(c) for c in cols],
                                       names=cols)
            if mask is not None:
                sub = sub.filter(mask)
            g = sub.group_by(cols).aggregate([([], "count_all")])
            # summed per key: the pyarrow 16 grouper can split one group
            # in two (see the key-order note in local_group_agg)
            merged: Dict[Any, int] = {}
            for key, c in zip(zip(*(g.column(c).to_pylist() for c in cols)),
                              g.column("count_all").to_pylist()):
                merged[key] = merged.get(key, 0) + c
            counts = merged.items()
        rows = sorted(counts, key=_facet_sort_key)
        if facet_min_count > 1:
            rows = [t for t in rows if t[1] >= facet_min_count]
        if facet_limit and facet_limit > 0:
            rows = rows[:facet_limit]
        results[col] = [(v, int(n)) for v, n in rows]
    return results


# --------------------------------------------------------------------- #
# grouped aggregation (Query.group_by/aggs extension)
# --------------------------------------------------------------------- #

#: Query.aggs fn -> Arrow aggregate kernel; count(*) handled separately
_AGG_KERNELS = {"count": "count", "sum": "sum", "avg": "mean",
                "min": "min", "max": "max",
                # Arrow's grouped count_distinct defaults to valid-only,
                # exactly Spark's countDistinct NULL handling
                "count_distinct": "count_distinct"}

#: argmin/argmax family: ONE shared order tuple, sorted once (descending
#: for max_by, ascending for min_by), then grouped 'first' picks the
#: extreme-tuple row
_ARG_FNS = {"max_by": "descending", "min_by": "ascending"}


def predicted_agg_schema(schema, group_by, aggs):
    """The Arrow schema :func:`local_group_agg` will produce for this
    (group_by, aggs) spec over ``schema`` — used to compile a HAVING
    clause at PLAN time (before any aggregation has run). Raises
    Unsupported where the output type is not certain to match the
    executor's (float32 sums, expression inputs), so a having-bearing
    plan refuses to the Spark path instead of filtering on a guessed
    type."""
    import pyarrow as pa
    import pyarrow.types as pt

    plain, derived = _split_group_by(group_by)
    fields = []
    for c in plain:
        fields.append(pa.field(c, _col_type(schema, c)))
    for alias, _unit, col in derived:
        t = schema.field(schema.get_field_index(col)).type
        fields.append(pa.field(alias, pa.timestamp("us", tz=t.tz)))
    for alias, spec in (aggs or {"count": ("count", None)}).items():
        fn = str(spec[0]).lower()
        col = spec[1] if len(spec) > 1 else None
        if fn in ("count", "count_distinct"):
            fields.append(pa.field(alias, pa.int64()))
            continue
        if fn in _ARG_FNS:
            fields.append(pa.field(alias, _col_type(schema, col)))
            continue
        if not is_plain_name(col):
            raise Unsupported("having over expression-input aggregate")
        t = _col_type(schema, col)
        if fn == "avg":
            fields.append(pa.field(alias, pa.float64()))
        elif fn == "sum":
            if pt.is_integer(t):
                fields.append(pa.field(alias, pa.int64()))
            elif pt.is_float64(t):
                fields.append(pa.field(alias, pa.float64()))
            else:
                raise Unsupported(f"having over sum({t})")
        elif fn in ("min", "max"):
            fields.append(pa.field(alias, t))
        else:
            raise Unsupported(f"having over {fn}")
    return pa.schema(fields)


def _split_group_by(group_by):
    """(plain_keys, derived) where derived = [(alias, unit, source_col)].
    Raises Unsupported for any derivation other than date_trunc."""
    plain, derived = [], []
    for g in group_by:
        if isinstance(g, str):
            plain.append(g)
        else:
            try:
                alias, (fn, unit, col) = g
            except Exception:  # noqa: BLE001
                raise Unsupported(f"malformed group key {g!r}")
            if str(fn) != "date_trunc" or unit not in (
                "minute", "hour", "day", "week", "month", "year"
            ):
                raise Unsupported(f"derived group key {g!r}")
            derived.append((alias, unit, col))
    return plain, derived


def validate_group_agg(schema, group_by, aggs, session_tz=None) -> None:
    """Raise Unsupported unless every group key and aggregate input is
    inside the mirrored subset. Float group keys refuse: Spark normalizes
    -0.0/NaN in grouping keys, Arrow hashes raw bits — the one grouping
    divergence that can't be mirrored cheaply. Derived date_trunc keys
    over tz-aware columns refuse unless the session timezone is UTC
    (Spark truncates in session time, Arrow in the column's zone)."""
    import pyarrow.types as pt

    plain, derived = _split_group_by(group_by)
    key_aliases = [a for a, _u, _c in derived]
    for c in plain:
        t = _col_type(schema, c)
        if pt.is_floating(t) or pt.is_timestamp(t):
            raise Unsupported(f"group key type {t} on {c!r}")
    for _alias, _unit, col in derived:
        idx = schema.get_field_index(col)
        if idx < 0:
            raise Unsupported(f"unknown column {col!r}")
        t = schema.field(idx).type
        if not pt.is_timestamp(t):
            raise Unsupported("date_trunc over non-timestamp column")
        if t.tz is not None and (session_tz or "UTC") not in (
            "UTC", "Etc/UTC", "GMT", "+00:00", "Z"
        ):
            raise Unsupported("date_trunc on tz-aware column outside UTC")
    order_tuples = {
        (str(spec[0]).lower(), tuple(spec[2]))
        for spec in (aggs or {}).values()
        if str(spec[0]).lower() in _ARG_FNS and len(spec) == 3
    }
    if len(order_tuples) > 1:
        # the local argmin/argmax implementation sorts ONCE by the shared
        # (direction, order tuple); heterogeneous orders or mixed
        # min_by/max_by would need one sort per tuple
        raise Unsupported("multiple min_by/max_by order tuples")
    for alias, spec in (aggs or {}).items():
        fn = str(spec[0]).lower()
        col = spec[1] if len(spec) > 1 else None
        if fn not in _AGG_KERNELS and fn not in _ARG_FNS:
            raise Unsupported(f"aggregate fn {fn!r}")
        if alias in plain or alias in key_aliases:
            raise Unsupported(f"alias {alias!r} collides with a group key")
        if fn in _ARG_FNS:
            if len(spec) != 3 or not spec[2]:
                raise Unsupported(f"{fn} needs (fn, value_col, order_cols)")
            _col_type(schema, col)
            for o in spec[2]:
                t = _col_type(schema, o)
                if pt.is_timestamp(t) and t.tz is not None and (
                    session_tz or "UTC"
                ) not in ("UTC", "Etc/UTC", "GMT", "+00:00", "Z"):
                    raise Unsupported(f"tz-aware {fn} order col outside UTC")
            continue
        if col in (None, "*"):
            if fn != "count":
                raise Unsupported(f"{fn} requires a column")
            continue
        if fn == "count_distinct":
            t = _col_type(schema, col)
            if pt.is_floating(t):
                # Spark normalizes -0.0/NaN inside DISTINCT; Arrow
                # distinguishes by bits — refuse rather than mirror
                raise Unsupported("count_distinct over float column")
            if pt.is_timestamp(t):
                raise Unsupported("count_distinct over timestamp column")
            continue
        if not is_plain_name(col):
            # restricted arithmetic over numeric columns ("a * (1 - b)"):
            # the SAME string feeds F.expr on the distributed side
            if fn == "count":
                raise Unsupported("count over an expression")
            compile_arith(col, schema)
            continue
        t = _col_type(schema, col)
        if fn in ("sum", "avg") and not (
            pt.is_integer(t) or pt.is_float64(t) or pt.is_float32(t)
        ):
            raise Unsupported(f"{fn} over non-numeric {col!r}")
        if fn in ("min", "max") and pt.is_timestamp(t):
            raise Unsupported("timestamp min/max value parity not mirrored")


def _agg_input_cols(aggs, schema):
    cols = []
    for spec in (aggs or {}).values():
        fn = str(spec[0]).lower()
        col = spec[1] if len(spec) > 1 else None
        if col not in (None, "*"):
            if is_plain_name(col):
                cols.append(col)
            else:
                _ev, used = compile_arith(col, schema)
                cols.extend(sorted(used))
        if fn in _ARG_FNS:
            cols.extend(spec[2])
    return cols


def _merged_schema(schema, join):
    """Post-join column space (left + right minus the coalesced right
    key); the left schema unchanged when there is no join. Semi/anti
    joins are EXISTS filters — their output space is the left schema."""
    if join is None or (len(join) > 4 and join[4] in ("semi", "anti")):
        return schema
    import pyarrow as pa

    right_schema, right_on = join[1], join[3]
    return pa.schema(
        list(schema) + [f for f in right_schema if f.name != right_on]
    )


def local_group_agg(
    files,
    schema,
    cond: Optional[_Cond],
    group_by: Sequence,
    aggs,
    session_tz: Optional[str] = None,
    join=None,
):
    """(total_groups, aggregate Table) — UNPAGED/UNSORTED; the caller owns
    sort/offset/limit. ``files`` is a :class:`StoreImage` or a parquet
    file list; the store is gate-bounded, so the REFERENCED columns are
    taken whole (decoded), then ONE C++ hash aggregation runs.

    ``join`` = (right_files, right_schema, left_on, right_on[, how]), the
    right side an image or a file list: an equi-join runs first (Arrow
    hash join; NULL keys drop, matching SQL). A condition over left
    columns only filters the left rows before the join, over dictionary
    codes. Derived ``date_trunc`` keys floor in C (week starts Monday,
    like Spark). ``max_by`` aggregates sort once by the order tuple
    descending and take ``first`` per group (single-threaded group-by:
    'first' is scan-order-defined); NULL order values refuse — Spark's
    struct-max null ordering is not mirrored.

    Sum/mean accumulate in float64 exactly like Spark's double aggregates;
    sum over int32/64 yields int64 (Spark: long). Count skips NULLs for a
    named column and counts rows for ``(count, None)``, matching SQL.
    """
    pa, pc = _pa()

    aggs = dict(aggs or {"count": ("count", None)})
    plain, derived = _split_group_by(group_by)
    where_cols = sorted(cond.cols) if cond is not None else []
    derived_srcs = [c for _a, _u, c in derived]
    expr_schema = _merged_schema(schema, join)
    agg_cols = _agg_input_cols(aggs, expr_schema)
    need_all = list(dict.fromkeys(
        plain + derived_srcs + agg_cols + where_cols
    ))
    img = StoreImage.of(files, schema)

    def _side(side_img, extra, mask=None):
        # group keys surface as plain values and aggregate kernels need
        # values, not codes: every side column is taken decoded
        names = set(side_img.schema.names)
        mine = list(dict.fromkeys(
            [c for c in need_all if c in names] + list(extra)
        ))
        t = pa.Table.from_arrays([side_img.decoded(c) for c in mine],
                                 names=mine)
        return t if mask is None else t.filter(mask)  # NULL mask -> dropped

    left_mask = None
    if cond is not None and set(where_cols) <= set(schema.names):
        # every join shape here keeps exactly the left rows that pass a
        # predicate over left columns alone, so filter before the join
        left_mask = cond.fn(img.columns(where_cols))
        cond = None
    if join is not None:
        right_files, right_schema, left_on, right_on = join[:4]
        how = join[4] if len(join) > 4 else "inner"
        right_img = StoreImage.of(right_files, right_schema)
        left = _side(img, [left_on], left_mask)
        if how in ("semi", "anti"):
            # EXISTS / NOT EXISTS: only the right KEY column is read; the
            # membership test replaces the hash join. NULL left keys never
            # match (semi drops them, like SQL EXISTS); anti KEEPS them
            # (SQL NOT EXISTS / Spark left_anti: null matches nothing).
            right_keys = right_img.decoded(right_on).drop_null()
            key = _single(left.column(left_on))
            mask = pc.is_in(key, value_set=right_keys.unique())
            if how == "anti":
                mask = pc.or_kleene(pc.invert(mask), pc.is_null(key))
            table = left.filter(mask)
        else:
            table = left.join(
                _side(right_img, [right_on]), keys=[left_on],
                right_keys=[right_on],
                join_type="inner" if how == "inner" else "left outer",
            ).combine_chunks()
    else:
        table = _side(img, [], left_mask)
    if cond is not None:
        cols = {c: _single(table.column(c)) for c in where_cols}
        table = table.filter(cond.fn(cols))
    # derive time-bucket keys (truncate ns->us so values match Spark's
    # microsecond TimestampType exactly)
    keys = list(plain)
    for alias, unit, col in derived:
        src = table.column(col)
        trunc = pc.floor_temporal(
            src.combine_chunks() if isinstance(src, pa.ChunkedArray) else src,
            unit=unit, week_starts_monday=True,
        )
        if trunc.type.unit == "ns":
            trunc = trunc.cast(pa.timestamp("us", tz=trunc.type.tz))
        table = table.append_column(alias, trunc)
        keys.append(alias)

    # materialize arithmetic-expression aggregate inputs as synthetic
    # columns so the standard kernels apply (one evaluation per distinct
    # expression, shared across aliases)
    expr_names = {}
    for spec in aggs.values():
        col = spec[1] if len(spec) > 1 else None
        if col not in (None, "*") and not is_plain_name(col) and col not in expr_names:
            ev, _used = compile_arith(col, expr_schema)
            name = f"__expr_{len(expr_names)}"
            table = table.append_column(
                name, ev({c: table.column(c) for c in table.column_names})
            )
            expr_names[col] = name

    def _norm_col(col):
        return expr_names.get(col, col)

    def _key(fn, col, spec):
        fn = str(fn).lower()
        if fn in _ARG_FNS:
            return (fn, col, tuple(spec[2]))
        return (
            ("*", "count_all") if col in (None, "*")
            else (_norm_col(col), _AGG_KERNELS[fn])
        )

    # min_by/max_by: ONE shared order tuple, pre-sorted (ascending for
    # min_by, descending for max_by); 'first' per group then picks the
    # extreme-tuple row (stable, single-threaded)
    order_tuples = {
        (str(spec[0]).lower(), tuple(spec[2])) for spec in aggs.values()
        if str(spec[0]).lower() in _ARG_FNS
    }
    if len(order_tuples) > 1:
        raise Unsupported("multiple min_by/max_by order tuples")
    single_thread = False
    if order_tuples:
        arg_fn, orders = next(iter(order_tuples))
        direction = _ARG_FNS[arg_fn]
        for o in orders:
            col = table.column(o)
            if col.null_count:
                raise Unsupported(f"NULL {arg_fn} order values")
        table = table.sort_by([(o, direction) for o in orders])
        single_thread = True

    specs, seen = [], set()
    for alias, spec in aggs.items():
        fn, col = str(spec[0]).lower(), (spec[1] if len(spec) > 1 else None)
        k = _key(fn, col, spec)
        if k in seen:
            continue
        seen.add(k)
        if k[0] == "*":
            specs.append(([], "count_all"))
        elif k[0] in _ARG_FNS:
            # skip_nulls=False: Spark's min_by/max_by return the argmin/
            # argmax row's carried value even when it is NULL; Arrow's
            # default 'first' would skip to the group's first non-NULL
            specs.append(
                (k[1], "first", pc.ScalarAggregateOptions(skip_nulls=False))
            )
        else:
            specs.append(k)
    # pyarrow 16.1 grouper bug (found by the property differential): a
    # VAR-LENGTH key preceding a NULL-bearing fixed-width key splits the
    # null-keyed groups (group_by(["s","g"]) on 48 true groups returned
    # 66 rows; ["g","s"] returns 48). Key order is semantically free —
    # grouping happens on the set — so always feed the grouper
    # fixed-width keys first; the output pulls columns BY NAME in the
    # caller's requested order either way.
    import pyarrow.types as _pt

    def _varlen(c):
        t = table.schema.field(table.schema.get_field_index(c)).type
        return bool(
            _pt.is_string(t) or _pt.is_large_string(t)
            or _pt.is_binary(t) or _pt.is_large_binary(t)
        )

    grouper_keys = sorted(keys, key=_varlen)  # stable: fixed-width first
    g = table.group_by(
        grouper_keys, use_threads=not single_thread
    ).aggregate(specs)
    # arrow names outputs {col}_{fn} / count_all — map back to the aliases
    # (duplicate (col, fn) pairs under different aliases share one kernel)
    bykey = {}
    for k in seen:
        if k[0] == "*":
            bykey[k] = g.column("count_all")
        elif k[0] in _ARG_FNS:
            bykey[k] = g.column(f"{k[1]}_first")
        else:
            bykey[k] = g.column(f"{k[0]}_{k[1]}")
    cols_out = {c: g.column(c) for c in keys}
    for alias, spec in aggs.items():
        fn, col = str(spec[0]).lower(), (spec[1] if len(spec) > 1 else None)
        cols_out[alias] = bykey[_key(fn, col, spec)]
    out = pa.table(cols_out)
    return out.num_rows, out


def paginate_table(
    table,
    sort_specs: Sequence[Tuple[str, bool]],
    offset: int,
    limit: Optional[int],
    select_cols: Optional[Sequence[str]],
    session_tz: Optional[str] = None,
) -> List[dict]:
    """Sort/offset/limit/project an in-memory Arrow table and return row
    dicts — the shared page tail for the aggregate tier (the scan tier
    ranks only the sort keys, in :func:`local_count_page`)."""
    _pa_, pc = _pa()

    if sort_specs:
        keys = [(c, "descending" if d else "ascending") for c, d in sort_specs]
        idx = pc.sort_indices(table, sort_keys=keys, null_placement="at_end")
        table = table.take(idx)
    if limit is not None:
        table = table.slice(offset, limit)
    elif offset:
        table = table.slice(offset)
    if select_cols:
        table = table.select(list(select_cols))
    return _table_to_dicts(table, session_tz)


# --------------------------------------------------------------------- #
# kNN (eager Collection.knn_search local route)
# --------------------------------------------------------------------- #

def local_knn(
    files,
    schema,
    vector_col: str,
    query_vector: Sequence[float],
    k: int,
    score_col: str = "score",
    select_cols: Optional[Sequence[str]] = None,
    session_tz: Optional[str] = None,
    metric: str = "cosine",
) -> List[dict]:
    """Exact top-k in-process over the store (``files``: a
    :class:`StoreImage`, whose vector matrix and norms are kept, or a
    parquet file list): the eager ``Collection.knn_search`` route; the
    scoring is :func:`knn_top`. Raises Unsupported on anything whose
    Spark-path semantics this cannot mirror (see :func:`vector_matrix`
    and :func:`knn_top`)."""
    pa, _pc = _pa()
    img = StoreImage.of(files, schema)
    out_cols = [f.name for f in schema if f.name != vector_col]
    if select_cols:
        out_cols = [c for c in select_cols if c != score_col]
    X, norms = img.vectors(vector_col)
    top, scores = knn_top(X, query_vector, k, metric=metric, norms=norms)
    page = img.select(out_cols).take(pa.array(top))
    rows = _table_to_dicts(page, session_tz)
    for r, s in zip(rows, scores):
        r[score_col] = s
    if select_cols:
        rows = [{c: r.get(c) for c in select_cols} for r in rows]
    return rows


def vector_matrix(col):
    """An Arrow list column of uniform-length vectors as an ``(n, dim)``
    float64 matrix. Raises Unsupported on NULL vectors or elements, ragged
    lengths, or a non-list type."""
    import numpy as np
    import pyarrow as pa

    if isinstance(col, pa.ChunkedArray):
        col = col.combine_chunks()
    if col.null_count:
        raise Unsupported("NULL vectors")
    typ = col.type
    n = len(col)
    if isinstance(typ, pa.FixedSizeListType):
        dim = typ.list_size
        flat = col.values
    elif isinstance(typ, (pa.ListType, pa.LargeListType)):
        flat = col.values
        if n == 0 or len(flat) % n != 0:
            raise Unsupported("ragged vectors")
        dim = len(flat) // n
        offs = col.offsets.to_numpy(zero_copy_only=False)
        # offsets must tile [0, len(flat)] exactly in dim-sized steps —
        # a sliced/offset array's values buffer would misalign the reshape
        if offs[0] != 0 or offs[-1] != len(flat) or not (np.diff(offs) == dim).all():
            raise Unsupported("ragged vectors")
    else:
        raise Unsupported(f"vector column type {typ}")
    if flat.null_count:
        raise Unsupported("NULL vector elements")
    return flat.to_numpy(zero_copy_only=False).astype(np.float64, copy=False).reshape(n, dim)


def row_norms(X):
    """Euclidean norm of each matrix row (the cosine denominator)."""
    import numpy as np

    return np.sqrt(np.einsum("ij,ij->i", X, X))


def knn_top(
    X,
    query_vector: Sequence[float],
    k: int,
    metric: str = "cosine",
    norms=None,
    zero_norm: str = "refuse",
):
    """The score-and-top-k kernel shared by ``knn_search`` and ``search``:
    ``(indices, scores)`` of the best ``k`` rows of ``X`` for
    ``query_vector``, best first — one fused numpy pass, the same float64
    math as the engine's Arrow kernels (``functions/vector.cosine_to_query``
    / ``distance_to_query``). ``metric``: cosine (default) / dot rank
    descending, euclidean / manhattan ascending — mirroring
    ``index.search.knn``. ``norms`` are precomputed :func:`row_norms`.

    ``zero_norm`` says what a zero cosine denominator does: ``"refuse"``
    raises Unsupported (the native JVM kernel yields no number there),
    ``"zero"`` scores it 0.0 (the Arrow kernel the 1000-dim text indexes
    run). Non-finite scores always refuse (Spark orders NaN above all
    doubles; numpy sorts it last)."""
    import numpy as np

    q = np.asarray(list(query_vector), dtype=np.float64)
    if X.shape[1] != len(q):
        raise Unsupported("query/vector dimensionality mismatch")
    if metric == "cosine":
        qn = float(np.linalg.norm(q))
        denom = (row_norms(X) if norms is None else norms) * qn
        if (denom == 0.0).any():
            if zero_norm != "zero":
                raise Unsupported("zero-norm vector")
            with np.errstate(divide="ignore", invalid="ignore"):
                scores = np.where(denom == 0.0, 0.0, (X @ q) / denom)
        else:
            scores = (X @ q) / denom
    elif metric == "dot":
        scores = X @ q
    elif metric == "euclidean":
        # the STABLE sum-of-squared-differences form, matching the native
        # JVM kernel (dims <= 128, the usual local-tier case) — the
        # |x|^2 - 2 x.q + |q|^2 matmul form leaves ~1e-8 cancellation
        # residue at near-zero distances, which would break score parity
        # with the native plan (tests/test_knn_metrics.py)
        d = X - q[None, :]
        scores = np.sqrt(np.einsum("ij,ij->i", d, d))
    elif metric == "manhattan":
        scores = np.abs(X - q[None, :]).sum(axis=1)
    else:
        raise Unsupported(f"metric {metric}")
    if not np.isfinite(scores).all():
        raise Unsupported("non-finite scores")
    kk = min(k, len(scores))
    if kk <= 0:
        return np.zeros(0, dtype=np.int64), []
    sgn = scores if metric in ("euclidean", "manhattan") else -scores
    part = np.argpartition(sgn, kk - 1)[:kk]
    top = part[np.argsort(sgn[part], kind="stable")]
    return top, [float(scores[i]) for i in top]


class VectorIndex:
    """A shadow text index held in process: the Arrow payload table (every
    source column), its float64 vector matrix and the row norms — built
    once per store version (``Indexer.collect_index``), so each later
    ``Collection.search`` embeds only its query and ranks with
    :func:`knn_top`. Raises Unsupported when an output column's Python
    form differs from Spark's."""

    __slots__ = ("table", "matrix", "norms", "vector_col")

    def __init__(self, table, matrix, vector_col: str):
        if matrix.ndim != 2 or matrix.shape[0] != table.num_rows:
            raise Unsupported("vector matrix does not match the rows")
        _check_output_types(table.schema, table.column_names)
        self.table = table
        self.matrix = matrix
        self.norms = row_norms(matrix)
        self.vector_col = vector_col

    def top_k(self, query_vector, k: int, where=None, keep_vector: bool = False,
              session_tz: Optional[str] = None) -> List[Tuple[float, dict]]:
        """``[(cosine, row)]`` of the ``k`` best rows passing ``where``,
        best first, scored like the Spark path's Arrow cosine kernel (a
        zero norm scores 0.0). ``keep_vector`` adds each row's vector
        under the index column, as the Spark path keeps it for MMR.
        Raises Unsupported for a clause outside the mirrored subset."""
        pa, _pc = _pa()
        import numpy as np

        X, norms = self.matrix, self.norms
        cond = compile_where_local(where, self.table.schema)
        if cond is not None:
            mask = cond.fn({c: self.table.column(c).combine_chunks()
                            for c in cond.cols})
            rows = np.flatnonzero(
                mask.fill_null(False).to_numpy(zero_copy_only=False))
            X, norms = X[rows], norms[rows]
        top, scores = knn_top(X, query_vector, k, norms=norms, zero_norm="zero")
        if cond is not None:
            top = rows[top]
        objs = _table_to_dicts(self.table.take(pa.array(top)), session_tz)
        if keep_vector:
            for obj, i in zip(objs, top):
                obj[self.vector_col] = self.matrix[i].tolist()
        return list(zip(scores, objs))


# --------------------------------------------------------------------- #
# restricted arithmetic over columns for aggregate inputs
# --------------------------------------------------------------------- #

def compile_arith(expr: str, schema):
    """Compile a restricted arithmetic expression over numeric columns
    (``+ - *`` with parentheses, numeric literals, unary minus) into an
    Arrow evaluator, or raise Unsupported. The grammar is the overlap
    where Python-ast and Spark-SQL parses agree token-for-token, so the
    SAME string feeds ``F.expr`` on the distributed side — e.g. TPC-H
    Q1's ``l_extendedprice * (1 - l_discount)``. Division is excluded
    (SQL and Arrow disagree on integer division). Arithmetic NULLs
    propagate and non-ANSI overflow wraps on both engines (Arrow's
    unchecked kernels = Spark's default mode).

    Returns ``(evaluate, cols)`` — evaluate({col: Array}) -> Array.
    """
    import ast

    import pyarrow.types as pt

    try:
        tree = ast.parse(expr, mode="eval")
    except SyntaxError:
        raise Unsupported(f"unparseable expression {expr!r}")
    cols: set = set()

    _OPS = {ast.Add: "add", ast.Sub: "subtract", ast.Mult: "multiply"}

    def build(node):
        if isinstance(node, ast.Expression):
            return build(node.body)
        if isinstance(node, ast.BinOp) and type(node.op) in _OPS:
            return ("op", _OPS[type(node.op)], build(node.left), build(node.right))
        if isinstance(node, ast.UnaryOp) and isinstance(node.op, ast.USub):
            return ("neg", build(node.operand))
        if isinstance(node, ast.Name):
            t = _col_type(schema, node.id)
            if not (pt.is_integer(t) or pt.is_floating(t)):
                raise Unsupported(f"non-numeric column {node.id!r} in arithmetic")
            cols.add(node.id)
            return ("col", node.id)
        if isinstance(node, ast.Constant) and isinstance(
            node.value, (int, float)
        ) and not isinstance(node.value, bool):
            return ("lit", node.value)
        raise Unsupported(f"unsupported arithmetic node {type(node).__name__}")

    ir = build(tree)

    def evaluate(cols_map):
        _pa_, pc = _pa()

        def rec(n):
            if n[0] == "op":
                return getattr(pc, n[1])(rec(n[2]), rec(n[3]))
            if n[0] == "neg":
                return pc.negate(rec(n[1]))
            if n[0] == "col":
                return _decode_dict(cols_map[n[1]])
            return n[1]

        return rec(ir)

    return evaluate, cols


_PLAIN_NAME = __import__("re").compile(r"^[A-Za-z_][A-Za-z0-9_]*$")


def is_plain_name(col: str) -> bool:
    return bool(_PLAIN_NAME.match(col or ""))
