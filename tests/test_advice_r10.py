"""Pins for the round-10 ADVICE fixes plus the fused local count+page.

1. (high)   local max_by returns the argmax row's carried value even when
            it is NULL — Spark parity (Arrow 'first' must not skip nulls).
2. (medium) $not over $in/$nin is Kleene three-valued in the local tier:
            NULL rows stay dropped under inversion, exactly like Spark's
            ~col.isin(...); $not-nested NULL IN-list values refuse.
3. (low)    the local-tier byte gate and the broadcast-side detection use
            parquet total_byte_size, which is the UNCOMPRESSED size — the
            comments now say so (behavioral pin: gate arithmetic).
4. (low)    first-touch A/B memo hygiene — retired with the A/B router
            (the local tier now routes on static footer gates).
5. (perf)   local_count_page fuses COUNT + page into one mask pass per
            file, value-identical to local_count + local_page.
"""

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from linkml_store_spark.operators import localexec as lx


@pytest.fixture()
def store(tmp_path):
    t = pa.table(
        {
            "g": [1, 1, 1, 2, 2],
            "v": ["b", None, "a", "x", None],
            "o": [5, 9, 1, 3, 7],
            "f": [1, 2, None, 5, 9],
        }
    )
    p = str(tmp_path / "t.parquet")
    pq.write_table(t, p)
    return p, t.schema


def test_max_by_null_carried_value_returns_null(store):
    """ADVICE r10 #1: the argmax row of group 1 (o=9) carries v=NULL;
    Spark's max_by returns NULL there, and so must the Arrow mirror
    (skip_nulls=False on the grouped 'first')."""
    p, schema = store
    _n, out = lx.local_group_agg(
        [p], schema, None, ["g"], {"top": ("max_by", "v", ["o"])}
    )
    rows = {r["g"]: r["top"] for r in out.to_pylist()}
    assert rows == {1: None, 2: None}


def test_max_by_non_null_carried_value(store):
    p, schema = store
    _n, out = lx.local_group_agg(
        [p], schema, None, ["g"], {"top": ("max_by", "o", ["o"])}
    )
    rows = {r["g"]: r["top"] for r in out.to_pylist()}
    assert rows == {1: 9, 2: 7}


def test_not_in_drops_null_rows(store):
    """ADVICE r10 #2: {f: {$not: {$in: [...]}}} must drop NULL rows (the
    Spark mask is NULL there), not keep them (the old invert-of-FALSE)."""
    p, schema = store
    tbl = pq.read_table(p)
    cond = lx.compile_where_local({"f": {"$not": {"$in": [1, 2]}}}, schema)
    kept = tbl.filter(cond.fn({"f": tbl.column("f")})).column("f").to_pylist()
    assert kept == [5, 9]  # NULL row dropped


def test_not_nin_drops_null_rows(store):
    p, schema = store
    tbl = pq.read_table(p)
    cond = lx.compile_where_local({"f": {"$not": {"$nin": [1]}}}, schema)
    kept = tbl.filter(cond.fn({"f": tbl.column("f")})).column("f").to_pylist()
    assert kept == [1]  # ~(~isin) is NULL on NULL rows -> dropped


def test_nested_null_in_list_refuses(store):
    _p, schema = store
    with pytest.raises(lx.Unsupported):
        lx.compile_where_local({"f": {"$not": {"$in": [1, None]}}}, schema)
    with pytest.raises(lx.Unsupported):
        lx.compile_where_local({"f": {"$nin": [None]}}, schema)


def test_in_mask_is_three_valued_under_or(store):
    """$or($not($in), eq) must evaluate with Kleene semantics end-to-end."""
    p, schema = store
    tbl = pq.read_table(p)
    cond = lx.compile_where_local(
        {"$or": [{"f": {"$not": {"$in": [1, 2, 5]}}}, {"g": 2}]}, schema
    )
    cols = {c: tbl.column(c) for c in ("f", "g")}
    kept = tbl.filter(cond.fn(cols)).column("f").to_pylist()
    # f=9 passes the not-in; g=2 rows (f=5, f=9) pass the disjunct;
    # the f=NULL row with g=1 stays NULL|FALSE = NULL -> dropped
    assert kept == [5, 9]


def test_local_count_page_parity_unsorted(store):
    p, schema = store
    cond = lx.compile_where_local({"f": {"$gte": 2}}, schema)
    n, rows = lx.local_count_page([p], schema, cond, None, [], 0, 2, 5)
    assert n == lx.local_count([p], schema, cond, 5)
    assert rows == lx.local_page([p], schema, cond, None, [], 0, 2)
    assert n == 3 and len(rows) == 2


def test_local_count_page_parity_sorted_and_offset(store):
    p, schema = store
    cond = lx.compile_where_local({"f": {"$gte": 2}}, schema)
    spec = ([("f", True)], 1, 10)
    n, rows = lx.local_count_page(
        [p], schema, cond, ["g", "f"], spec[0], spec[1], spec[2], 5
    )
    assert n == 3
    assert rows == lx.local_page(
        [p], schema, cond, ["g", "f"], spec[0], spec[1], spec[2]
    )
    assert [r["f"] for r in rows] == [5, 2]


def test_local_count_page_no_cond_uses_footer_total(store):
    p, schema = store
    n, rows = lx.local_count_page([p], schema, None, ["g"], [], 0, 3, 5)
    assert n == 5 and len(rows) == 3


# ---- round-10 IR extension: min_by + exact count_distinct ---------------

def _agg_store(tmp_path):
    t = pa.table(
        {
            "g": [1, 1, 1, 2, 2, 2],
            "u": ["a", "a", "b", "c", None, "c"],
            "v": ["x", None, "y", "p", "q", "r"],
            "o": [3, 1, 2, 9, 7, 8],
        }
    )
    p = str(tmp_path / "agg.parquet")
    pq.write_table(t, p)
    return p, t.schema


def test_min_by_local_mirror(tmp_path):
    p, schema = _agg_store(tmp_path)
    _n, out = lx.local_group_agg(
        [p], schema, None, ["g"], {"first_v": ("min_by", "v", ["o"])}
    )
    rows = {r["g"]: r["first_v"] for r in out.to_pylist()}
    # group 1 argmin o=1 carries v=NULL (must surface, not skip);
    # group 2 argmin o=7 carries 'q'
    assert rows == {1: None, 2: "q"}


def test_count_distinct_local_mirror(tmp_path):
    p, schema = _agg_store(tmp_path)
    _n, out = lx.local_group_agg(
        [p], schema, None, ["g"],
        {"users": ("count_distinct", "u"), "n": ("count", None)},
    )
    rows = {r["g"]: (r["users"], r["n"]) for r in out.to_pylist()}
    # NULLs don't count as a distinct value (Spark countDistinct)
    assert rows == {1: (2, 3), 2: (1, 3)}


def test_mixed_min_max_by_refuses(tmp_path):
    p, schema = _agg_store(tmp_path)
    with pytest.raises(lx.Unsupported):
        lx.validate_group_agg(
            schema, ["g"],
            {"a": ("min_by", "v", ["o"]), "b": ("max_by", "v", ["o"])},
        )


def test_count_distinct_float_refuses(tmp_path):
    t = pa.table({"g": [1], "f": [1.0]})
    p = str(tmp_path / "f.parquet")
    pq.write_table(t, p)
    with pytest.raises(lx.Unsupported):
        lx.validate_group_agg(
            t.schema, ["g"], {"d": ("count_distinct", "f")}
        )


def test_min_by_spark_local_parity(spark, tmp_path):
    """The full Collection.query route: Spark F.min_by/F.countDistinct vs
    the local Arrow mirror must agree on real data."""
    import warnings

    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/mb")
    coll = db.create_collection("t", identifier_attribute="id")
    coll.insert(
        spark.createDataFrame(
            [(i, i % 7, f"e{i}", i % 13) for i in range(3000)],
            ["id", "g", "name", "o"],
        )
    )
    q = Query(
        group_by=["g"],
        aggs={"first_name": ("min_by", "name", ("o", "id")),
              "kinds": ("count_distinct", "o")},
        sort_by=["g"],
        limit=-1,
    )
    with warnings.catch_warnings():
        warnings.simplefilter("error")  # divergence warning = failure
        r = coll.query(q)
    assert r.num_rows == 7
    for row in r.rows:
        assert row["kinds"] == 13
        # argmin over (o, id): o = id % 13 minimal at the smallest id
        # with id % 13 == 0 in the group
        g = row["g"]
        want = min(
            (i % 13, i) for i in range(3000) if i % 7 == g
        )[1]
        assert row["first_name"] == f"e{want}"
    assert coll._query_spark(q).rows == r.rows


# ---- round-10 IR extension: HAVING ---------------------------------------

def test_having_local_spark_parity(spark, tmp_path):
    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/hv")
    coll = db.create_collection("t", identifier_attribute="id")
    coll.insert(
        spark.createDataFrame(
            [(i, i % 10, float(i % 4)) for i in range(4000)],
            ["id", "g", "v"],
        )
    )
    q = Query(
        group_by=["g"],
        aggs={"n": ("count", None), "s": ("sum", "v")},
        having={"$or": [{"n": {"$gt": 400}}, {"s": {"$lte": 550.0}}]},
        sort_by=["g"],
        limit=-1,
    )
    r = coll.query(q)
    import os

    os.environ["SPARK_GRAFT_LOCAL_TIER"] = "0"
    try:
        db2 = client.attach_database(f"spark://{tmp_path}/hv")
        r2 = db2.get_collection("t").query(q)
    finally:
        os.environ.pop("SPARK_GRAFT_LOCAL_TIER")
    assert r.num_rows == r2.num_rows
    assert r.rows == r2.rows
    # the predicate really filtered: every surviving group satisfies it
    for row in r.rows:
        assert row["n"] > 400 or row["s"] <= 550.0


def test_having_requires_group_by(spark, tmp_path):
    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/hv2")
    coll = db.create_collection("t", identifier_attribute="id")
    coll.insert(spark.createDataFrame([(1, 1)], ["id", "g"]))
    with pytest.raises(ValueError, match="having"):
        coll.query(Query(having={"n": 1}))


def test_having_num_rows_is_post_having_count(spark, tmp_path):
    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/hv3")
    coll = db.create_collection("t", identifier_attribute="id")
    coll.insert(
        spark.createDataFrame(
            [(i, i % 20) for i in range(2000)], ["id", "g"]
        )
    )
    # every group has n=100; having n > 100 keeps none
    r = coll.query(Query(group_by=["g"], aggs={"n": ("count", None)},
                         having={"n": {"$gt": 100}}, limit=5))
    assert r.num_rows == 0 and r.rows == []
    # limit smaller than surviving groups: num_rows still the full count
    r2 = coll.query(Query(group_by=["g"], aggs={"n": ("count", None)},
                          having={"n": {"$gte": 100}}, limit=5))
    assert r2.num_rows == 20 and len(r2.rows) == 5


def test_predicted_agg_schema_refusals(tmp_path):
    t = pa.table({"g": ["a"], "f32": pa.array([1.0], pa.float32())})
    with pytest.raises(lx.Unsupported):
        lx.predicted_agg_schema(t.schema, ["g"], {"s": ("sum", "f32")})


def test_facets_plus_group_by_fails_loudly(spark, tmp_path):
    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/fg")
    coll = db.create_collection("t", identifier_attribute="id")
    coll.insert(spark.createDataFrame([(1, 1)], ["id", "g"]))
    with pytest.raises(ValueError, match="facet"):
        coll.query(Query(group_by=["g"], aggs={"n": ("count", None)},
                         include_facet_counts=True, facet_slots=["g"]))
