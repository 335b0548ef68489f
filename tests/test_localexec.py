"""Local-tier (driver-side Arrow execution) parity and gating tests.

The tier (operators/localexec.py) must be VALUE-IDENTICAL to the Spark
path on every shape it accepts, refuse everything else, and never engage
past the footer size gate. Parity here is pinned directly against
``Collection._query_spark`` on the same store; routing is the static
footer gate (``localexec.local_tier_admits``), so these pins are the
tier's only parity check.
"""

import os

import pytest

from linkml_store_spark.client import Client
from linkml_store_spark.operators import localexec as lx
from linkml_store_spark.query import Query


@pytest.fixture()
def store(spark, tmp_path):
    """A persisted parquet store with nulls, strings, ints, doubles,
    timestamps and an array column (the array column must refuse)."""
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/ltdb")
    coll = db.create_collection("t", identifier_attribute="id")
    rows = []
    for i in range(300):
        rows.append(
            {
                "id": i,
                "cat": None if i % 17 == 0 else f"c{i % 5}",
                "qty": None if i % 23 == 0 else float(i % 50),
                "n": i % 7,
                "flag": i % 3 == 0,
                "ts": f"2024-01-{(i % 28) + 1:02d} 12:{i % 60:02d}:00",
                "tags": [f"t{i % 3}", f"t{(i + 1) % 4}"],
            }
        )
    coll.insert(spark.createDataFrame(rows).selectExpr(
        "id", "cat", "qty", "n", "flag", "cast(ts as timestamp) ts", "tags"
    ))
    return coll


def _local_result(coll, q):
    plan = coll._local_tier_plan(q)
    assert plan is not None, f"local tier refused eligible query {q}"
    return plan()


def _assert_parity(coll, q, ordered=None):
    lres = _local_result(coll, q)
    sres = coll._query_spark(q)
    assert lres.num_rows == sres.num_rows
    if ordered or (ordered is None and q.sort_by):
        assert lres.rows == sres.rows
    else:
        assert sorted(map(repr, lres.rows)) == sorted(map(repr, sres.rows))


WHERE_SHAPES = [
    {"cat": "c1"},
    {"cat": None},                          # IS NULL
    {"cat": {"$ne": "c1"}},                 # null-rejecting !=
    {"cat": {"$ne": None}},                 # IS NOT NULL
    {"qty": {"$gte": 10.0, "$lt": 30.0}},
    {"qty": {"$gt": 5}},                    # int literal on double col
    {"n": {"$in": [1, 2, 3]}},
    {"cat": {"$in": ["c1", "c2"]}},
    {"cat": {"$nin": ["c1", "c2"]}},        # null-rejecting NOT IN
    {"cat": ["c0", "c3"]},                  # implicit IN
    {"cat": {"$like": "c%"}},
    {"cat": {"$contains": "1"}},
    {"cat": {"$exists": True}},
    {"cat": {"$exists": False}},
    {"flag": True},
    {"n": {">=": 3}},                       # raw operator spelling
    {"cat": "c1", "n": {"$lt": 5}},         # implicit AND
    {"$or": [{"cat": "c1"}, {"n": 0}]},
    {"$and": [{"qty": {"$gte": 5.0}}, {"qty": {"$lt": 45.0}}]},
    {"$not": {"cat": "c1"}},
    {"cat": {"$not": {"$eq": "c1"}}},       # field-level $not
    {"ts": {"$gte": "2024-01-10 00:00:00", "$lt": "2024-01-20 00:00:00"}},
]


@pytest.mark.parametrize("where", WHERE_SHAPES, ids=[repr(w) for w in WHERE_SHAPES])
def test_count_parity(store, where):
    _assert_parity(store, Query(where_clause=where, limit=0))


def test_full_page_parity_unfiltered(store):
    _assert_parity(store, Query(limit=-1))


def test_full_page_parity_filtered(store):
    _assert_parity(store, Query(where_clause={"cat": "c2"}, limit=-1))


@pytest.mark.parametrize(
    "sort_by",
    [["-qty", "id"], ["qty", "-id"], ["cat", "-id"], ["-ts"], ["n asc", "-id"]],
)
def test_sorted_page_parity(store, sort_by):
    # id is unique (and ts collision-free over 300 rows), so every spec
    # here is a TOTAL order — exact row-sequence compare is valid
    q = Query(sort_by=sort_by, limit=-1)
    _assert_parity(store, q, ordered=True)


def test_sorted_single_key_tie_safe(store):
    # single-key sort has ties: compare the key sequence + row multiset
    q = Query(sort_by=["-qty"], limit=-1)
    lres = _local_result(store, q)
    sres = store._query_spark(q)
    assert [r["qty"] for r in lres.rows] == [r["qty"] for r in sres.rows]
    assert sorted(map(repr, lres.rows)) == sorted(map(repr, sres.rows))


def test_sorted_topk_with_offset_and_select(store):
    q = Query(
        sort_by=["-qty", "id"], select_cols=["id", "qty"], offset=7, limit=10
    )
    _assert_parity(store, q, ordered=True)


def test_sorted_nulls_last_both_directions(store):
    # qty has NULLs: the engine pins NULLS LAST for asc AND desc
    for spec in (["qty", "id"], ["-qty", "id"]):
        q = Query(sort_by=spec, limit=-1)
        lres = _local_result(store, q)
        sres = store._query_spark(q)
        assert lres.rows == sres.rows
        assert lres.rows[-1]["qty"] is None  # nulls really are last


def test_unsorted_limit_counts_match(store):
    q = Query(where_clause={"cat": {"$ne": None}}, limit=25)
    lres = _local_result(store, q)
    sres = store._query_spark(q)
    assert lres.num_rows == sres.num_rows
    assert len(lres.rows) == len(sres.rows) == 25


def test_default_limit_applied(store):
    lres = _local_result(store, Query())
    assert len(lres.rows) == 100  # DEFAULT_LIMIT
    assert lres.num_rows == 300


def test_timestamp_values_match_spark_collect(store):
    """Spark writes parquet timestamps UTC-adjusted; collect() returns
    naive session-tz datetimes — the local tier must return the SAME
    naive values."""
    q = Query(select_cols=["id", "ts"], sort_by=["id"], limit=5)
    lres = _local_result(store, q)
    sres = store._query_spark(q)
    assert lres.rows == sres.rows
    assert lres.rows[0]["ts"].tzinfo is None


REFUSED = [
    Query(where_clause={"tags": {"$contains": "t1"}}, limit=0),  # array col
    Query(where_clause={"cat": {"$regex": "c[12]"}}, limit=0),   # regex dialect
    Query(where_clause={"history.organization": "Org1"}, limit=0),  # dotted
    Query(where_clause="n > 3", limit=0),                        # raw SQL
    Query(where_clause={"tags": {"$size": 2}}, limit=0),
    Query(where_clause={"n": {"$mod": [2, 1]}}, limit=0),
    Query(where_clause={"n": {"$in": [1, None]}}, limit=0),      # NULL in IN
    Query(sort_by=["tags"], limit=5),                            # array sort
    Query(select_cols=["nope.x"], limit=5),                      # dotted select
    Query(include_facet_counts=True, limit=5),
]


@pytest.mark.parametrize("q", REFUSED, ids=[repr(q)[:60] for q in REFUSED])
def test_unsupported_shapes_refuse(store, q):
    assert store._local_tier_plan(q) is None


def test_size_gate_refuses(store, monkeypatch):
    monkeypatch.setattr(lx, "LOCAL_TIER_CAPS", dict.fromkeys(lx.LOCAL_TIER_CAPS, 10))
    assert store._local_tier_plan(Query(limit=0)) is None


def test_env_kill_switch(store, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    assert store._local_tier_plan(Query(limit=0)) is None


def test_mutation_invalidates_local_count_memo(store):
    q = Query(where_clause={"cat": "c1"}, limit=0)
    n1 = _local_result(store, q).num_rows
    store.insert([{"id": 9001, "cat": "c1", "qty": 1.0, "n": 1, "flag": True,
                   "ts": None, "tags": []}])
    plan = store._local_tier_plan(q)
    assert plan is not None
    assert plan().num_rows == n1 + 1


# --------------------------------------------------------------------- #
# facet tier
# --------------------------------------------------------------------- #

def _local_facets(coll, where, cols, limit=100, min_count=1):
    res = coll._local_tier_facets(where, cols, limit, min_count)
    assert res is not None, "facet tier refused eligible call"
    return res


def _spark_facets(coll, where, cols, limit=100, min_count=1):
    from linkml_store_spark.facets import query_facets as qf

    return qf(coll.df, where, cols, limit, min_count)


@pytest.mark.parametrize(
    "cols",
    [["cat"], ["cat", "n"], [("cat", "n")], ["flag"]],
    ids=["single", "two-single", "compound", "bool"],
)
def test_facet_parity_unfiltered(store, cols):
    assert _local_facets(store, None, cols) == _spark_facets(store, None, cols)


def test_facet_parity_filtered_with_exclusion(store):
    # the where mentions the facet column itself -> the multi-select
    # exclusion rewrite must drop it for that column only
    where = {"cat": "c1", "n": {"$lt": 5}}
    assert _local_facets(store, where, ["cat", "n"]) == _spark_facets(
        store, where, ["cat", "n"]
    )


def test_facet_limit_and_min_count(store):
    assert _local_facets(store, None, ["n"], limit=3, min_count=30) == \
        _spark_facets(store, None, ["n"], limit=3, min_count=30)


def test_facet_refuses_arrays_timestamps_and_unsupported_where(store):
    assert store._local_tier_facets(None, ["tags"], 100, 1) is None
    assert store._local_tier_facets(None, ["ts"], 100, 1) is None
    assert store._local_tier_facets("n > 3", ["cat"], 100, 1) is None


def test_facets_via_collection_api_routes_and_matches(store):
    """Collection.query_facets end-to-end: repeated calls route locally
    and both answers equal the Spark path."""
    r1 = store.query_facets(where=None, facet_columns=["cat", "n"])
    r2 = store.query_facets(where=None, facet_columns=["cat", "n"])
    assert r1 == r2 == _spark_facets(store, None, ["cat", "n"])


# --------------------------------------------------------------------- #
# property-based differential: local tier vs the Spark where-compiler
# --------------------------------------------------------------------- #

from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402

_PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
_price = st.floats(min_value=0, max_value=600000, allow_nan=False).map(
    lambda x: round(x, 2)
)
_key = st.integers(min_value=-10, max_value=20000)
_where_clauses = st.fixed_dictionaries(
    {},
    optional={
        "o_totalprice": st.one_of(
            _price,
            st.fixed_dictionaries({"$gte": _price}),
            st.fixed_dictionaries({"$lt": _price}),
        ),
        "o_orderpriority": st.one_of(
            st.sampled_from(_PRIORITIES),
            st.fixed_dictionaries({"$in": st.lists(
                st.sampled_from(_PRIORITIES), min_size=1, max_size=4, unique=True)}),
            st.fixed_dictionaries({"$nin": st.lists(
                st.sampled_from(_PRIORITIES), min_size=1, max_size=3, unique=True)}),
            st.fixed_dictionaries({"$ne": st.sampled_from(_PRIORITIES)}),
        ),
        "o_orderstatus": st.one_of(
            st.sampled_from(["F", "O", "P"]),
            st.fixed_dictionaries({"$like": st.sampled_from(["F%", "%O%", "_"])}),
        ),
        "o_orderkey": st.one_of(
            _key,
            st.fixed_dictionaries({"$gt": _key}),
            st.fixed_dictionaries({"$lte": _key}),
        ),
    },
)


@pytest.fixture(scope="module")
def orders_store(spark, tmp_path_factory):
    from linkml_store_spark.sources.tables import load_table

    client = Client(spark)
    db = client.attach_database(
        f"spark://{tmp_path_factory.mktemp('ltprop')}/db"
    )
    coll = db.create_collection("orders", identifier_attribute="o_orderkey")
    coll.insert(load_table(spark, "/root/testdata/sf0.001", "orders"))
    return coll


@settings(
    max_examples=30,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=_where_clauses)
def test_property_local_count_matches_spark(orders_store, where):
    """Fuzzed where-clauses: the local tier's count must equal the Spark
    where-compiler's count on the same persisted store (the same
    differential the driver runs against DuckDB, aimed at the tier)."""
    from linkml_store_spark.where import apply_where

    plan = orders_store._local_tier_plan(Query(where_clause=where, limit=0))
    assert plan is not None, where
    orders_store._version.memos.pop(
        ("count", "local", repr(where)), None
    )
    local_n = plan().num_rows
    spark_n = apply_where(orders_store.df, where).count()
    assert local_n == spark_n, where


# --------------------------------------------------------------------- #
# grouped-aggregation IR (group_by / aggs / join) parity
# --------------------------------------------------------------------- #

@pytest.fixture()
def agg_db(spark, tmp_path):
    """orders/customer-like pair with timestamps for the join/argmax/
    rollup IR shapes."""
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/aggdb")
    facts = db.create_collection("facts", identifier_attribute="id")
    rows = [
        {
            "id": i,
            "cust": i % 7,
            "price": float((i * 37) % 1000) / 4,
            "disc": ((i * 13) % 10) / 100.0,
            "cat": f"c{i % 3}",
            "ts": f"2024-03-{(i % 5) + 1:02d} {(i % 24):02d}:{i % 60:02d}:00",
        }
        for i in range(400)
    ]
    facts.insert(spark.createDataFrame(rows).selectExpr(
        "id", "cust", "price", "disc", "cat", "cast(ts as timestamp) ts"
    ))
    dims = db.create_collection("dims", identifier_attribute="ck")
    dims.insert(spark.createDataFrame(
        [{"ck": k, "seg": f"s{k % 3}"} for k in range(5)]  # custs 5,6 unmatched
    ))
    return db


def _agg_parity(coll, q, keys):
    import math

    plan = coll._local_tier_plan(q)
    assert plan is not None, "agg IR refused locally"
    l, s = plan(), coll._query_spark(q)
    assert l.num_rows == s.num_rows
    key = lambda r: tuple(str(r[k]) for k in keys)  # noqa: E731
    for a, b in zip(sorted(l.rows, key=key), sorted(s.rows, key=key)):
        assert a.keys() == b.keys()
        for k in a:
            if isinstance(a[k], float):
                assert math.isclose(a[k], b[k], rel_tol=1e-9), (k, a, b)
            else:
                assert a[k] == b[k], (k, a, b)


def test_agg_ir_plain_and_expr(agg_db):
    q = Query(
        where_clause={"price": {"$gte": 10.0}},
        group_by=["cat"],
        aggs={
            "n": ("count", None),
            "n_disc": ("count", "disc"),
            "rev": ("sum", "price"),
            "net": ("sum", "price * (1 - disc)"),
            "hi": ("max", "price"),
            "avg_d": ("avg", "disc"),
        },
        limit=-1,
    )
    _agg_parity(agg_db.get_collection("facts"), q, ["cat"])


def test_agg_ir_join(agg_db):
    q = Query(
        join={"collection": "dims", "left_on": "cust", "right_on": "ck"},
        group_by=["seg"],
        aggs={"rev": ("sum", "price"), "n": ("count", None)},
        limit=-1,
    )
    facts = agg_db.get_collection("facts")
    _agg_parity(facts, q, ["seg"])
    # inner-join semantics: unmatched custs (5, 6) contribute nothing
    plan = facts._local_tier_plan(q)
    total_n = sum(r["n"] for r in plan().rows)
    assert total_n == sum(1 for i in range(400) if i % 7 < 5)


def test_agg_ir_max_by(agg_db):
    q = Query(
        group_by=["cust"],
        aggs={"latest_id": ("max_by", "id", ("ts", "id"))},
        limit=-1,
    )
    _agg_parity(agg_db.get_collection("facts"), q, ["cust"])


def test_agg_ir_date_trunc(agg_db):
    q = Query(
        group_by=[("day", ("date_trunc", "day", "ts")), "cat"],
        aggs={"n": ("count", None), "rev": ("sum", "price")},
        limit=-1,
    )
    _agg_parity(agg_db.get_collection("facts"), q, ["day", "cat"])


def test_agg_ir_sorted_paged(agg_db):
    q = Query(
        group_by=["cat"],
        aggs={"rev": ("sum", "price")},
        sort_by=["-rev"],
        limit=2,
    )
    facts = agg_db.get_collection("facts")
    plan = facts._local_tier_plan(q)
    l, s = plan(), facts._query_spark(q)
    assert l.num_rows == s.num_rows == 3  # pre-pagination group count
    assert [r["cat"] for r in l.rows] == [r["cat"] for r in s.rows]
    assert len(l.rows) == 2


def test_agg_ir_left_join(agg_db):
    """how='left' keeps unmatched facts (cust 5, 6) with a NULL group key;
    count(col) skips the nulls, count(*) doesn't — both mirrored."""
    q = Query(
        join={"collection": "dims", "left_on": "cust", "right_on": "ck",
              "how": "left"},
        group_by=["seg"],
        aggs={"n": ("count", None), "n_seg": ("count", "seg"),
              "rev": ("sum", "price")},
        limit=-1,
    )
    facts = agg_db.get_collection("facts")
    _agg_parity(facts, q, ["seg"])
    plan = facts._local_tier_plan(q)
    rows = plan().rows
    assert sum(r["n"] for r in rows) == 400  # every fact row survives
    null_grp = [r for r in rows if r["seg"] is None]
    assert len(null_grp) == 1 and null_grp[0]["n_seg"] == 0


def test_agg_ir_semi_join(agg_db):
    q = Query(
        join={"collection": "dims", "left_on": "cust", "right_on": "ck",
              "how": "semi"},
        group_by=["cat"],
        aggs={"n": ("count", None), "rev": ("sum", "price")},
        limit=-1,
    )
    facts = agg_db.get_collection("facts")
    _agg_parity(facts, q, ["cat"])
    plan = facts._local_tier_plan(q)
    assert sum(r["n"] for r in plan().rows) == sum(
        1 for i in range(400) if i % 7 < 5
    )


def test_agg_ir_anti_join(agg_db):
    q = Query(
        join={"collection": "dims", "left_on": "cust", "right_on": "ck",
              "how": "anti"},
        group_by=["cat"],
        aggs={"n": ("count", None), "rev": ("sum", "price")},
        limit=-1,
    )
    facts = agg_db.get_collection("facts")
    _agg_parity(facts, q, ["cat"])
    plan = facts._local_tier_plan(q)
    assert sum(r["n"] for r in plan().rows) == sum(
        1 for i in range(400) if i % 7 >= 5
    )


def test_agg_ir_anti_semi_null_keys(spark, tmp_path):
    """NULL join keys: EXISTS (semi) drops them, NOT EXISTS (anti) keeps
    them — SQL semantics, mirrored local vs Spark."""
    from pyspark.sql.types import (
        IntegerType, StringType, StructField, StructType,
    )

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/nulldb")
    facts = db.create_collection("f", identifier_attribute="id")
    schema = StructType([
        StructField("id", IntegerType()),
        StructField("k", IntegerType()),
        StructField("g", StringType()),
    ])
    facts.insert(spark.createDataFrame(
        [(1, 1, "a"), (2, None, "a"), (3, 2, "b"), (4, None, "b"),
         (5, 9, "b")],
        schema,
    ))
    dims = db.create_collection("d", identifier_attribute="dk")
    dims.insert(spark.createDataFrame(
        [(1,), (2,)],
        StructType([StructField("dk", IntegerType())]),
    ))
    for how, expect_total in [("semi", 2), ("anti", 3)]:
        q = Query(
            join={"collection": "d", "left_on": "k", "right_on": "dk",
                  "how": how},
            group_by=["g"], aggs={"n": ("count", None)}, limit=-1,
        )
        _agg_parity(facts, q, ["g"])
        plan = facts._local_tier_plan(q)
        assert sum(r["n"] for r in plan().rows) == expect_total, how


def test_agg_ir_refusals(agg_db):
    facts = agg_db.get_collection("facts")
    refused = [
        Query(group_by=["price"], aggs={"n": ("count", None)}),   # float key
        Query(group_by=["ts"], aggs={"n": ("count", None)}),      # ts key
        Query(group_by=["cat"], aggs={"n": ("count", "price*2")}),  # count expr
        Query(group_by=["cat"], aggs={"r": ("sum", "price / disc")}),  # division
        Query(group_by=["cat"], aggs={"r": ("sum", "nope + 1")}),  # unknown col
        Query(group_by=["cat"], aggs={"cat": ("count", None)}),   # alias clash
        Query(group_by=["cat"], aggs={                            # two orders
            "a": ("max_by", "id", ("ts",)),
            "b": ("max_by", "id", ("id",)),
        }),
        Query(join={"collection": "dims", "left_on": "cust",
                    "right_on": "nope"},
              group_by=["seg"], aggs={"n": ("count", None)}),     # bad key
        Query(join={"collection": "dims", "left_on": "cust",
                    "right_on": "ck", "how": "right"},
              group_by=["cat"], aggs={"n": ("count", None)}),     # bad how
        Query(join={"collection": "dims", "left_on": "cust",
                    "right_on": "ck", "how": "semi"},
              group_by=["seg"], aggs={"n": ("count", None)}),     # right col
    ]
    for q in refused:
        assert facts._local_tier_plan(q) is None, q


def test_agg_ir_join_requires_group_by(agg_db):
    with pytest.raises(ValueError, match="join"):
        agg_db.get_collection("facts").query(
            Query(join={"collection": "dims", "left_on": "cust",
                        "right_on": "ck"})
        )


def test_agg_ir_via_query_routes_and_matches(agg_db):
    """End-to-end through Collection.query: repeated calls take the local
    route and equal the Spark path's answer."""
    facts = agg_db.get_collection("facts")
    q = Query(group_by=["cat"], aggs={"rev": ("sum", "price")}, limit=-1)
    r1 = facts.query(q)
    r2 = facts.query(q)
    import math

    s = facts._query_spark(q)
    for res in (r1, r2):
        assert res.num_rows == s.num_rows
        a = sorted(res.rows, key=lambda r: r["cat"])
        b = sorted(s.rows, key=lambda r: r["cat"])
        assert all(
            math.isclose(x["rev"], y["rev"], rel_tol=1e-9) and x["cat"] == y["cat"]
            for x, y in zip(a, b)
        )


def test_explain_reports_local_tier(store):
    out = store.explain({"cat": "c1"})
    assert "Local Tier" in out and "footer rows inside the gate" in out
    assert "PhysicalRDD" in out or "Scan" in out  # the JVM plan still shown
    assert "Store image: not resident" in out
    # a read loads the columns it needs into the image; explain shows them
    store.find({"cat": "c1"}, limit=0)
    img = store._version.memos[("image",)]
    out = store.explain({"cat": "c1"})
    assert f"Store image: resident, {img.nbytes} bytes, columns cat\n" in out


def test_explain_silent_when_tier_ineligible(store, monkeypatch):
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    assert "Local Tier" not in store.explain({"cat": "c1"})


def test_agg_ir_join_types_spark_plan(spark, sf_dir):
    """Spark-path plan pins for the IR join types: semi/anti compile to
    broadcast hash SEMI/ANTI joins when the right store is footer-small
    (the dim never shuffles), and no cartesian anywhere."""
    from linkml_store_spark.database import Database

    db = Database(spark, handle=f"spark://{sf_dir}", location=sf_dir)
    cust = db.get_collection("customer")
    for how, marker in [("semi", "LeftSemi"), ("anti", "LeftAnti"),
                        ("left", "LeftOuter")]:
        q = Query(
            join={"collection": "orders", "left_on": "c_custkey",
                  "right_on": "o_custkey", "how": how},
            group_by=["c_mktsegment"],
            aggs={"n": ("count", None)},
            limit=-1,
        )
        cust._query_spark_agg(q)
        gdf = next(
            v for k, v in cust._version.memos.items()
            if k[0] == "agg" and len(k) == 7 and k[5] == repr(q.join)
        )
        s = gdf._sc._jvm.PythonSQLUtils.explainString(
            gdf._jdf.queryExecution(), "formatted"
        )
        assert marker in s, (how, s)
        assert "BroadcastHashJoin" in s, (how, s)
        assert "CartesianProduct" not in s


def test_agg_ir_bad_how_raises(agg_db):
    with pytest.raises(ValueError, match="inner|left|semi|anti"):
        agg_db.get_collection("facts")._query_spark_agg(
            Query(join={"collection": "dims", "left_on": "cust",
                        "right_on": "ck", "how": "right"},
                  group_by=["cat"], aggs={"n": ("count", None)})
        )


# --------------------------------------------------------------------- #
# static routing: the per-class footer gate decides, ab_winner and
# explain report it, and reads never write into the store
# --------------------------------------------------------------------- #

@pytest.fixture(scope="module")
def route_store(spark, tmp_path_factory):
    client = Client(spark)
    base = tmp_path_factory.mktemp("routedb")
    db = client.attach_database(f"spark://{base}/rdb")
    coll = db.create_collection("r", identifier_attribute="id")
    coll.insert(spark.createDataFrame(
        [(i, f"c{i % 5}", float(i % 50), [float(i % 7), float(i % 3) + 1.0])
         for i in range(300)],
        "id long, cat string, v double, emb array<double>",
    ))
    return coll


#: one public call per shape class
ROUTE_CALLS = {
    "count": lambda c: c.query(Query(where_clause={"cat": "c1"}, limit=0)),
    "page": lambda c: c.query(Query(sort_by=["-v"], limit=5)),
    "agg": lambda c: c.query(
        Query(group_by=["cat"], aggs={"n": ("count", None)}, limit=-1)
    ),
    "facet": lambda c: c.query_facets(facet_columns=["cat"]),
    "knn": lambda c: c.knn_search([1.0, 2.0], vector_col="emb", k=3),
}

ROUTE_SETTINGS = ["under_cap", "over_cap", "kill_switch"]


def _spark_jobs(coll, fn) -> int:
    """Spark jobs ``fn`` ran (statusTracker job group), from cold result
    memos and page plans so a Spark-routed call cannot hide behind one."""
    coll._version.memos.clear()
    sc = coll.spark.sparkContext
    group = f"route-{id(fn)}-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "static routing test")
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def _apply_setting(monkeypatch, setting, kind):
    if setting == "over_cap":  # the 300-row store is over a 299-row cap
        monkeypatch.setitem(lx.LOCAL_TIER_CAPS, kind, 299)
    elif setting == "kill_switch":
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")


@pytest.mark.parametrize("setting", ROUTE_SETTINGS)
@pytest.mark.parametrize("kind", list(ROUTE_CALLS))
def test_class_cap_routes_and_ab_winner_reports_it(
    route_store, monkeypatch, kind, setting
):
    """Under its class cap a call runs zero Spark jobs; over the cap or
    under the kill switch it takes the Spark path; ``ab_winner`` reports
    exactly the route taken."""
    from linkml_store_spark.operators.arrowagg import ab_winner

    _apply_setting(monkeypatch, setting, kind)
    jobs = _spark_jobs(route_store, lambda: ROUTE_CALLS[kind](route_store))
    if setting == "under_cap":
        assert jobs == 0, f"{kind} under its cap ran {jobs} Spark jobs"
    else:
        assert jobs > 0, f"{kind} ({setting}) never reached Spark"
    files = [fp for fp, _md in route_store._store_metas()]
    reported = ab_winner(
        route_store.spark, files, lx.local_tier_column(kind), total_rows=300
    )
    assert reported == ("arrow" if jobs == 0 else "jvm")


@pytest.mark.parametrize("setting", ROUTE_SETTINGS)
def test_explain_reports_route_taken(route_store, monkeypatch, setting):
    _apply_setting(monkeypatch, setting, "page")
    where = {"cat": "c2"}
    out = route_store.explain(where)
    jobs = _spark_jobs(route_store, lambda: route_store.find(where))
    if jobs == 0:
        assert "== Local Tier ==" in out and "page cap" in out
    else:
        assert "== Route ==\nDistributed plan:" in out
        assert "Local Tier" not in out
    if setting == "kill_switch":
        assert "SPARK_GRAFT_LOCAL_TIER=0" in out
    if setting == "over_cap":
        assert "over the gate (300 footer rows, page cap 299" in out


def test_ab_winner_reports_jvm_for_a_real_column(spark, sf_dir):
    """Only the local tier's pseudo-columns name a driver-local route: a
    real column reports the Spark route whatever the store's size."""
    from linkml_store_spark.operators.arrowagg import ab_winner

    files = spark.read.parquet(f"{sf_dir}/lineitem.parquet").inputFiles()
    assert ab_winner(spark, files, "l_returnflag") == "jvm"
    assert ab_winner(spark, files, "l_returnflag", total_rows=10**12) == "jvm"


@pytest.mark.parametrize("setting", ["under_cap", "kill_switch"])
def test_reads_write_nothing_into_store_dir(route_store, monkeypatch, setting):
    """Reads on either route leave the store directory byte-for-byte
    listed as before (no routing sidecar or any other file)."""
    if setting == "kill_switch":
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    store_dir = route_store.database._collection_path(route_store.alias)

    def listing():
        return sorted(
            os.path.relpath(os.path.join(d, f), store_dir)
            for d, _dirs, fs in os.walk(store_dir) for f in fs
        )

    before = listing()
    for call in ROUTE_CALLS.values():
        route_store._version.memos.clear()
        call(route_store)
    route_store.explain({"cat": "c1"})
    assert listing() == before
