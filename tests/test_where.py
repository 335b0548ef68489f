"""Where-compiler semantics (reference §2.3: eq/ne/gt/gte/lt/lte/in/nin/
like/regex/contains, dotted paths, implicit AND, None -> IS NULL)."""

import pytest

from linkml_store_spark.where import (
    FALSE,
    TRUE,
    And,
    Not,
    Pred,
    apply_where,
    compile_where,
    exclude_column,
    parse_where,
)


@pytest.fixture(scope="module")
def df(spark):
    rows = [
        {"id": 1, "name": "alpha", "n": 10, "tags": ["x", "y"], "meta": {"k": "a", "depth": 1}},
        {"id": 2, "name": "beta", "n": 20, "tags": ["y"], "meta": {"k": "b", "depth": 2}},
        {"id": 3, "name": "gamma", "n": 30, "tags": [], "meta": {"k": "a", "depth": 3}},
        {"id": 4, "name": None, "n": None, "tags": None, "meta": None},
    ]
    return spark.createDataFrame(
        rows,
        schema="id long, name string, n long, tags array<string>, meta struct<k:string,depth:long>",
    )


def ids(df, where):
    return sorted(r["id"] for r in apply_where(df, where).collect())


def test_none_where(df):
    assert ids(df, None) == [1, 2, 3, 4]
    assert ids(df, {}) == [1, 2, 3, 4]


def test_equality(df):
    assert ids(df, {"name": "alpha"}) == [1]


def test_equality_none_is_null(df):
    assert ids(df, {"name": None}) == [4]


def test_ne(df):
    assert ids(df, {"name": {"$ne": "alpha"}}) == [2, 3]  # null-rejecting, SQL parity
    assert ids(df, {"name": {"$ne": None}}) == [1, 2, 3]  # IS NOT NULL


def test_comparisons(df):
    assert ids(df, {"n": {"$gt": 10}}) == [2, 3]
    assert ids(df, {"n": {"$gte": 10, "$lt": 30}}) == [1, 2]
    assert ids(df, {"n": {"$lte": 10}}) == [1]


def test_in_nin(df):
    assert ids(df, {"name": {"$in": ["alpha", "beta"]}}) == [1, 2]
    assert ids(df, {"name": {"$nin": ["alpha", "beta"]}}) == [3]
    # implicit-IN when a scalar column meets a list value
    assert ids(df, {"name": ["alpha", "gamma"]}) == [1, 3]


def test_in_on_array_column_is_overlap(df):
    assert ids(df, {"tags": {"$in": ["x"]}}) == [1]
    assert ids(df, {"tags": {"$in": ["y"]}}) == [1, 2]


def test_contains_on_array(df):
    assert ids(df, {"tags": {"$contains": "y"}}) == [1, 2]


def test_like_regex(df):
    assert ids(df, {"name": {"$like": "a%"}}) == [1]
    assert ids(df, {"name": {"$regex": "^(alpha|beta)$"}}) == [1, 2]


def test_raw_operator_passthrough(df):
    assert ids(df, {"n": {">=": 20}}) == [2, 3]


def test_dotted_paths(df):
    assert ids(df, {"meta.k": "a"}) == [1, 3]
    assert ids(df, {"meta.depth": {"$gte": 2}}) == [2, 3]


def test_implicit_and(df):
    assert ids(df, {"meta.k": "a", "n": {"$gt": 10}}) == [3]


def test_string_and_list_clauses(df):
    assert ids(df, "n > 15") == [2, 3]
    assert ids(df, ["n > 5", "n < 25"]) == [1, 2]


def test_unknown_operator_raises(df):
    with pytest.raises(ValueError):
        compile_where({"n": {"$bogus": 1}}, df)


def test_or_and_not_combinators(spark):
    from linkml_store_spark.where import apply_where

    df = spark.createDataFrame(
        [(1, "a", 10), (2, "b", 20), (3, "a", 30), (4, "c", None)],
        ["id", "cat", "n"],
    )
    got = {r["id"] for r in apply_where(df, {"$or": [{"cat": "a"}, {"n": {"$gte": 20}}]}).collect()}
    assert got == {1, 2, 3}
    got = {r["id"] for r in apply_where(df, {"$and": [{"cat": "a"}, {"n": {"$gte": 20}}]}).collect()}
    assert got == {3}
    got = {r["id"] for r in apply_where(df, {"$not": {"cat": "a"}}).collect()}
    assert got == {2, 4}
    # nested: NOT(cat=a OR n>=20) — row 4 has n NULL, so the OR is NULL and
    # NOT NULL stays NULL (SQL three-valued logic, same contract as $ne)
    got = {r["id"] for r in apply_where(df, {"$not": {"$or": [{"cat": "a"}, {"n": {"$gte": 20}}]}}).collect()}
    assert got == set()
    got = {r["id"] for r in apply_where(df, {"$not": {"$or": [{"cat": "a"}, {"cat": "b"}]}}).collect()}
    assert got == {4}
    # field-level $not
    got = {r["id"] for r in apply_where(df, {"n": {"$not": {"$gte": 20}}}).collect()}
    assert got == {1}  # null n is neither >=20 nor NOT(>=20) — SQL semantics


def test_exists_and_size(spark):
    from linkml_store_spark.where import apply_where

    df = spark.createDataFrame(
        [(1, ["x"], 5), (2, ["x", "y"], None), (3, None, 7)],
        ["id", "tags", "n"],
    )
    assert {r["id"] for r in apply_where(df, {"n": {"$exists": True}}).collect()} == {1, 3}
    assert {r["id"] for r in apply_where(df, {"n": {"$exists": False}}).collect()} == {2}
    assert {r["id"] for r in apply_where(df, {"tags": {"$size": 2}}).collect()} == {2}


def test_all_operator(spark):
    from linkml_store_spark.where import apply_where

    df = spark.createDataFrame(
        [(1, ["x", "y", "z"]), (2, ["x"]), (3, ["y", "z"]), (4, None)],
        ["id", "tags"],
    )
    assert {r["id"] for r in apply_where(df, {"tags": {"$all": ["x", "y"]}}).collect()} == {1}
    assert {r["id"] for r in apply_where(df, {"tags": {"$all": ["y"]}}).collect()} == {1, 3}
    # MongoDB semantics: {field: {$all: []}} matches NO documents
    assert {r["id"] for r in apply_where(df, {"tags": {"$all": []}}).collect()} == set()


def test_elem_match_struct_and_scalar(spark):
    from linkml_store_spark.where import apply_where

    rows = [
        {"id": 1, "hist": [{"kind": "a", "v": 5}, {"kind": "b", "v": 50}]},
        {"id": 2, "hist": [{"kind": "a", "v": 100}]},
        {"id": 3, "hist": [{"kind": "b", "v": 1}]},
    ]
    df = spark.createDataFrame(rows)
    # struct elements: BOTH conditions must hold on the SAME element
    got = {r["id"] for r in apply_where(
        df, {"hist": {"$elemMatch": {"kind": "a", "v": {"$gte": 50}}}}
    ).collect()}
    assert got == {2}  # doc 1 has kind=a (v=5) and v=50 (kind=b) but no single element with both
    # scalar elements: operator-only sub-clause applies to the element
    nums = spark.createDataFrame([(1, [3, 9]), (2, [1, 2]), (3, [])], ["id", "ns"])
    got = {r["id"] for r in apply_where(nums, {"ns": {"$elemMatch": {"$gte": 5}}}).collect()}
    assert got == {1}


def test_mod_and_type(spark):
    from linkml_store_spark.where import apply_where

    df = spark.createDataFrame([(1, 10), (2, 11), (3, 14)], ["id", "n"])
    assert {r["id"] for r in apply_where(df, {"n": {"$mod": [4, 2]}}).collect()} == {1, 3}
    # $type is a schema-level check on a columnar store: all rows or none
    assert apply_where(df, {"n": {"$type": "long"}}).count() == 3
    assert apply_where(df, {"n": {"$type": "string"}}).count() == 0


def test_parse_canonicalizes_spellings():
    assert parse_where({"n": {">=": 1, "$lt": 5}}) == And((
        Pred("n", "gte", 1), Pred("n", "lt", 5),
    ))
    assert parse_where({"n": {"<>": 3}}) == Not(Pred("n", "eq", 3))
    assert parse_where({"n": {"$ne": None}}) == Not(Pred("n", "null"))
    assert parse_where({"n": {"$exists": False}}) == Pred("n", "null")
    assert parse_where({"n": {"$nin": [1, 2]}}) == Not(Pred("n", "in", (1, 2)))
    assert parse_where({"n": {"in": 7}}) == Pred("n", "in", (7,))
    assert parse_where({"$and": [{"a": 1}, {"$and": [{"b": 2}]}]}) == And((
        Pred("a", "eq", 1), Pred("b", "eq", 2),
    ))
    for empty in (None, {}, [], "  ", {"$and": []}, {"$or": [{}, {"a": 1}]},
                  {"$not": {"$or": []}}):
        assert parse_where(empty) == TRUE, empty
    for false in ({"$or": []}, {"$not": {}}, {"a": 1, "$or": []},
                  {"tags": {"$all": []}}):
        assert parse_where(false) == FALSE, false


def test_empty_combinators(df):
    assert ids(df, {"$and": []}) == [1, 2, 3, 4]
    assert ids(df, {"$or": []}) == []
    assert ids(df, {"$or": [{}, {"name": "alpha"}]}) == [1, 2, 3, 4]
    assert ids(df, {"$not": {}}) == []
    assert ids(df, {"$not": {"$or": []}}) == [1, 2, 3, 4]
    assert ids(df, {"name": "alpha", "$or": []}) == []


def test_malformed_clause_raises_before_either_tier(df):
    import pyarrow as pa

    from linkml_store_spark.operators import localexec as lx

    schema = pa.schema([("n", pa.int64())])
    for bad in ({"n": {"$bogus": 1}}, {"n": {}},
                {"$or": [{}, {"n": {"$bogus": 1}}]},
                {"tags": {"$elemMatch": {"$or": []}}}):
        for compile_ in (parse_where,
                         lambda w: lx.compile_where_local(w, schema),
                         lambda w: compile_where(w, df)):
            with pytest.raises(ValueError):
                compile_(bad)


def test_exclude_column_drops_conjuncts_reading_only_the_column():
    w = {
        "meta.k": "a",
        "n": {"$gt": 1},
        "$or": [{"name": "x"}, {"n": 2}],
        "$not": {"name": "y"},
    }
    assert exclude_column(w, "meta") == {
        "n": {"$gt": 1}, "$or": [{"name": "x"}, {"n": 2}], "$not": {"name": "y"},
    }
    # the mixed $or stays; the $not reads only name and goes
    assert exclude_column(w, "name") == {
        "meta.k": "a", "n": {"$gt": 1}, "$or": [{"name": "x"}, {"n": 2}],
    }
    assert exclude_column(w, "n") == {
        "meta.k": "a", "$or": [{"name": "x"}, {"n": 2}], "$not": {"name": "y"},
    }
    assert exclude_column({"$or": []}, "n") == {"$or": []}
    assert exclude_column("n > 1", "n") == "n > 1"
