"""Property-based differential testing: where-compiler vs DuckDB.

Random where-clauses over the orders table must produce identical row
counts in the Spark engine and in DuckDB-generated SQL — the same
differential oracle the round driver uses, but fuzzing clause SHAPES
instead of fixed queries (mixed operators, conjunctions, boundary
values, null semantics).
"""

from datetime import date, datetime

import duckdb
import pyarrow.parquet as pq
import pytest
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from linkml_store_spark.sources.tables import load_table
from linkml_store_spark.where import apply_where

SF = "/root/testdata/sf0.001"

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_STATUSES = ["F", "O", "P"]


@pytest.fixture(scope="module")
def orders(spark):
    return load_table(spark, SF, "orders")


@pytest.fixture(scope="module")
def ddb():
    con = duckdb.connect()
    con.execute(
        f"CREATE VIEW orders AS SELECT * FROM read_parquet('{SF}/orders.parquet')"
    )
    return con


def _sql_literal(v):
    if isinstance(v, str):
        return "'" + v.replace("'", "''") + "'"
    return repr(v)


def _cond_to_sql(col, spec):
    if not isinstance(spec, dict):
        if spec is None:
            return f"{col} IS NULL"
        return f"{col} = {_sql_literal(spec)}"
    parts = []
    ops = {"$eq": "=", "$ne": "!=", "$gt": ">", "$gte": ">=", "$lt": "<", "$lte": "<="}
    for op, v in spec.items():
        if op == "$in":
            parts.append(f"{col} IN ({', '.join(_sql_literal(x) for x in v)})")
        elif op == "$nin":
            parts.append(f"{col} NOT IN ({', '.join(_sql_literal(x) for x in v)})")
        elif op == "$like":
            parts.append(f"{col} LIKE {_sql_literal(v)}")
        elif op == "$ne" and v is None:
            parts.append(f"{col} IS NOT NULL")
        else:
            parts.append(f"{col} {ops[op]} {_sql_literal(v)}")
    return " AND ".join(parts)


def _where_to_sql(where):
    if not where:
        return "TRUE"
    return " AND ".join(_cond_to_sql(c, s) for c, s in where.items())


price = st.floats(min_value=0, max_value=600000, allow_nan=False).map(
    lambda x: round(x, 2)
)
key = st.integers(min_value=-10, max_value=20000)

price_spec = st.one_of(
    price,
    st.fixed_dictionaries({"$gte": price}),
    st.fixed_dictionaries({"$lt": price}),
    st.builds(
        lambda a, b: {"$gte": min(a, b), "$lte": max(a, b)}, price, price
    ),
)
priority_spec = st.one_of(
    st.sampled_from(_PRIORITIES),
    st.fixed_dictionaries(
        {"$in": st.lists(st.sampled_from(_PRIORITIES), min_size=1, max_size=4, unique=True)}
    ),
    st.fixed_dictionaries(
        {"$nin": st.lists(st.sampled_from(_PRIORITIES), min_size=1, max_size=3, unique=True)}
    ),
    st.fixed_dictionaries({"$ne": st.sampled_from(_PRIORITIES)}),
)
status_spec = st.one_of(
    st.sampled_from(_STATUSES),
    st.fixed_dictionaries({"$like": st.sampled_from(["F%", "%O%", "_"])}),
)
key_spec = st.one_of(
    key,
    st.fixed_dictionaries({"$gt": key}),
    st.fixed_dictionaries({"$lte": key}),
)

where_clauses = st.fixed_dictionaries(
    {},
    optional={
        "o_totalprice": price_spec,
        "o_orderpriority": priority_spec,
        "o_orderstatus": status_spec,
        "o_orderkey": key_spec,
    },
)


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=where_clauses)
def test_where_count_matches_duckdb(orders, ddb, where):
    spark_n = apply_where(orders, where).count()
    sql = f"SELECT COUNT(*) FROM orders WHERE {_where_to_sql(where)}"
    duck_n = ddb.execute(sql).fetchone()[0]
    assert spark_n == duck_n, f"{where!r}: spark={spark_n} duckdb={duck_n}\n{sql}"


facet_cols = st.lists(
    st.sampled_from(["o_orderpriority", "o_orderstatus"]),
    min_size=1, max_size=2, unique=True,
)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=where_clauses, cols=facet_cols)
def test_facets_match_duckdb_with_exclusion(orders, ddb, where, cols):
    """The facet engine (incl. the multi-select exclusion rewrite and the
    one-pass auto path) must agree with per-column SQL that drops the facet
    column's own conjunct from the WHERE."""
    from linkml_store_spark.facets import query_facets

    got = query_facets(orders, where, cols, facet_limit=-1)
    for c in cols:
        minus = {k: v for k, v in where.items() if k != c}
        sql = (
            f"SELECT {c} AS v, COUNT(*) AS n FROM orders "
            f"WHERE {_where_to_sql(minus)} GROUP BY {c}"
        )
        want = {r[0]: r[1] for r in ddb.execute(sql).fetchall()}
        assert dict(got[c]) == want, f"{c} {where!r}"


sort_specs = st.lists(
    st.sampled_from(
        ["o_totalprice", "-o_totalprice", "o_orderkey", "-o_orderkey"]
    ),
    min_size=1, max_size=2, unique_by=lambda s: s.lstrip("-"),
)
limits = st.integers(min_value=1, max_value=50)
offsets = st.integers(min_value=0, max_value=30)


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=where_clauses, sort=sort_specs, limit=limits, offset=offsets)
def test_pagination_matches_duckdb(spark, orders, ddb, where, sort, limit, offset):
    """find()-style sort+offset+limit pages must match SQL exactly.

    The sort is made total by always appending the pk as the last key."""
    from linkml_store_spark.collection import _sort_col
    from linkml_store_spark.where import apply_where

    sort = sort + ["o_orderkey"] if "o_orderkey" not in [s.lstrip("-") for s in sort] else sort
    page = (
        apply_where(orders, where)
        .orderBy(*[_sort_col(s) for s in sort])
        .offset(offset)
        .limit(limit)
        .select("o_orderkey")
        .collect()
    )
    got = [r[0] for r in page]
    order_sql = ", ".join(
        f"{s.lstrip('-')} {'DESC' if s.startswith('-') else 'ASC'}" for s in sort
    )
    sql = (
        f"SELECT o_orderkey FROM orders WHERE {_where_to_sql(where)} "
        f"ORDER BY {order_sql} LIMIT {limit} OFFSET {offset}"
    )
    want = [r[0] for r in ddb.execute(sql).fetchall()]
    assert got == want, f"{where!r} {sort!r} l={limit} o={offset}"


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a=where_clauses, b=where_clauses)
def test_or_satisfies_inclusion_exclusion(orders, a, b):
    """|A or B| == |A| + |B| - |A and B| for arbitrary clause pairs —
    algebraic invariant of the $or/$and combinators (all test predicates
    are null-free columns, so three-valued logic cannot break it here)."""
    n_or = apply_where(orders, {"$or": [a, b]}).count()
    n_a = apply_where(orders, a).count()
    n_b = apply_where(orders, b).count()
    n_and = apply_where(orders, {"$and": [a, b]}).count()
    assert n_or == n_a + n_b - n_and


@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(a=where_clauses)
def test_not_is_complement(orders, a):
    """$not partitions the table on null-free predicate columns."""
    total = orders.count()
    n_a = apply_where(orders, a).count()
    n_not = apply_where(orders, {"$not": a}).count()
    assert n_a + n_not == total  # NOT(empty) = NOT(TRUE) = FALSE, so 0


# ------------------------------------------------------------------ #
# one IR, three lowerings: Spark, the Arrow mask and the zone maps
# ------------------------------------------------------------------ #

_SCALAR_OPS = ["$eq", "=", "==", "$ne", "!=", "<>", "$gt", ">", "$gte",
               ">=", "$lt", "<", "$lte", "<="]

#: values present in the table, so that boundary literals hit rows
_PRESENT = pq.read_table(
    f"{SF}/orders.parquet", columns=["o_orderkey", "o_totalprice"]
).slice(0, 200).to_pydict()

#: per column: literals of its own type, and cross-type ones (Spark casts
#: those itself; the Arrow mask must coerce them exactly or refuse)
_LITERALS = {
    "o_orderkey": (
        st.one_of(st.sampled_from(_PRESENT["o_orderkey"]),
                  st.sampled_from(_PRESENT["o_orderkey"]),
                  st.integers(min_value=-10, max_value=6000)),
        st.sampled_from(["7", 7.5, True]),
    ),
    "o_totalprice": (
        st.one_of(st.sampled_from(_PRESENT["o_totalprice"]),
                  st.sampled_from(_PRESENT["o_totalprice"]), price,
                  st.integers(0, 600000)),
        st.sampled_from(["1000.5", False]),
    ),
    "o_orderstatus": (st.sampled_from(_STATUSES), st.just(1)),
    "o_orderpriority": (st.sampled_from(_PRIORITIES), st.just(3)),
    "o_orderdate": (
        st.sampled_from(["1995-01-01", "1993-06-30 12:00:00",
                         datetime(1996, 1, 1)]),
        st.sampled_from([date(1994, 1, 1), "1994-13-01"]),
    ),
}


def _field_spec(col):
    own, cross = _LITERALS[col]
    lit = st.one_of(own, own, own, st.one_of(cross, st.none()))
    lits = st.one_of(
        st.lists(own, min_size=1, max_size=4),
        st.lists(lit, max_size=3),
    )
    op = st.one_of(
        st.tuples(st.sampled_from(_SCALAR_OPS), lit),
        st.tuples(st.sampled_from(_SCALAR_OPS), own),
        st.tuples(st.sampled_from(["$in", "in", "$nin"]), lits),
        st.tuples(st.sampled_from(["$like", "like"]),
                  st.sampled_from(["F%", "%URG%", "_", 5])),
        st.tuples(st.sampled_from(["$contains", "$regex"]),
                  st.sampled_from(["O", "^1-"])),
        st.tuples(st.just("$exists"), st.booleans()),
        st.tuples(st.just("$not"), lit.map(lambda v: {"$gte": v})),
    )
    ops = st.lists(op, min_size=1, max_size=2).map(dict)
    # two bounds on one literal: the zone lowering's tie rule
    ties = own.flatmap(lambda v: st.sampled_from([
        {"$gt": v, "$gte": v}, {"<=": v, "$lt": v}, {">=": v, "$lte": v},
    ]))
    return st.one_of(lit, lits, ops, ops, ties)


#: one or two field conditions: single-column ones reach the zone lowering
_field_clauses = st.lists(
    st.sampled_from(sorted(_LITERALS)).flatmap(
        lambda c: _field_spec(c).map(lambda spec: {c: spec})
    ),
    min_size=1, max_size=2,
).map(lambda ds: {k: v for d in ds for k, v in d.items()})
_nested_clauses = st.recursive(
    _field_clauses,
    lambda inner: st.one_of(
        st.lists(inner, max_size=3).map(lambda xs: {"$or": xs}),
        st.lists(inner, max_size=3).map(lambda xs: {"$and": xs}),
        inner.map(lambda x: {"$not": x}),
        st.tuples(_field_clauses, inner, st.booleans()).map(
            lambda t: {**t[0], "$or": [t[1], {}] if t[2] else [t[1]]}
        ),
    ),
    max_leaves=5,
)
ir_clauses = st.one_of(_field_clauses, _field_clauses, _nested_clauses)


@settings(
    max_examples=60,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture,
                           HealthCheck.too_slow],
)
@given(where=ir_clauses)
def test_where_tiers_agree_or_refuse(spark, orders, where):
    """Every clause the Arrow lowering accepts counts what the Spark
    lowering counts, and so does every clause the zone lowering accepts
    (through ``topk.zone_count``); a clause the Arrow lowering does not
    accept is refused with a reason."""
    from pyspark.sql import functions as F

    from linkml_store_spark.operators import localexec as lx
    from linkml_store_spark.operators import topk
    from linkml_store_spark.where import zone_clause

    path = f"{SF}/orders.parquet"
    footer = pq.ParquetFile(path)
    schema = footer.schema_arrow
    spark_n = None
    try:
        cond = lx.compile_where_local(where, schema)
    except lx.Unsupported as e:
        assert str(e), f"{where!r}: refused without a reason"
    else:
        arrow_n = lx.local_count([path], schema, cond, footer.metadata.num_rows)
        spark_n = apply_where(orders, where).count()
        assert spark_n == arrow_n, f"{where!r}: spark={spark_n} arrow={arrow_n}"
    zc = zone_clause(where, orders.schema)
    if zc is None:
        return
    kind, args = zc
    zones = topk.column_zones(topk._footer_metas([path]), args[0])
    if kind == "range":
        decision = topk.range_decision(zones, *args[1:])
        pred = topk.range_predicate(*args)
    else:
        decision = topk.value_decision(zones, args[1])
        pred = F.col(args[0]).isin(list(args[1]))
    zone_n = topk.zone_count(spark, decision, lambda: orders, lambda: pred)
    if spark_n is None:
        spark_n = apply_where(orders, where).count()
    assert zone_n == spark_n, f"{where!r}: spark={spark_n} zones={zone_n}"
