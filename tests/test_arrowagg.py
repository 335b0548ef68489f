"""Arrow dictionary-code value counts (operators/arrowagg.py) and its
size-gated wiring into the facet engine.

The operator is the scale path for the reference's most-used shape — the
unfiltered single-column facet (reference utils/sql_utils.py:109-142) —
so parity with the JVM groupBy().count() is the whole contract.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from linkml_store_spark.facets import facet_df
from linkml_store_spark.operators.arrowagg import (
    parquet_row_groups,
    parquet_value_counts,
)

SF = "/root/testdata/sf0.01"


def _counts_dict(rows, key="value", cnt="count"):
    return {r[key]: r[cnt] for r in rows}


def test_string_column_parity(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    adf = parquet_value_counts(spark, df, "l_returnflag")
    assert adf is not None
    got = _counts_dict(adf.collect())
    want = _counts_dict(
        df.groupBy("l_returnflag").count().collect(), key="l_returnflag"
    )
    assert got == want


def test_numeric_column_parity(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet")
    adf = parquet_value_counts(spark, df, "o_custkey")
    assert adf is not None
    got = _counts_dict(adf.collect())
    want = _counts_dict(df.groupBy("o_custkey").count().collect(), key="o_custkey")
    assert got == want


def test_nulls_form_a_group(spark, tmp_path):
    p = str(tmp_path / "withnulls.parquet")
    spark.createDataFrame(
        [("a",), ("a",), (None,), ("b",), (None,)], "v string"
    ).repartition(1).write.parquet(p)
    df = spark.read.parquet(p)
    adf = parquet_value_counts(spark, df, "v")
    assert adf is not None
    got = _counts_dict(adf.collect())
    assert got == {"a": 2, None: 2, "b": 1}


def test_fallbacks_return_none(spark):
    # local relation: no input files
    local = spark.createDataFrame([("x",)], "v string")
    assert parquet_value_counts(spark, local, "v") is None
    # nested / unsupported column type
    df = spark.read.parquet(f"{SF}/documents.parquet")
    emb = spark.read.parquet(f"{SF}/embeddings.parquet")
    assert parquet_value_counts(spark, emb, "embedding") is None
    # missing column
    assert parquet_value_counts(spark, df, "nope") is None
    # below the size gate
    assert parquet_value_counts(spark, df, "lang", min_rows=10**12) is None


def test_row_group_enumeration_counts_rows(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    rgs, total = parquet_row_groups(df.inputFiles())
    assert total == df.count()
    assert len(rgs) >= len(df.inputFiles())


def test_facet_df_routes_large_stores_through_arrow(spark):
    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    routed = facet_df(df, None, "l_returnflag", arrow_min_rows=0)
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" in plan  # the Arrow leaf replaced the JVM scan
    plain = facet_df(df, None, "l_returnflag", arrow_min_rows=10**12)
    plain_plan = plain._jdf.queryExecution().executedPlan().toString()
    assert "MapInPandas" not in plain_plan
    assert [tuple(r) for r in routed.collect()] == [
        tuple(r) for r in plain.collect()
    ]


def test_facet_df_arrow_respects_min_count_and_limit(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet")
    routed = facet_df(
        df, None, "o_orderpriority", facet_limit=3, facet_min_count=2,
        arrow_min_rows=0,
    )
    plain = facet_df(
        df, None, "o_orderpriority", facet_limit=3, facet_min_count=2,
        arrow_min_rows=10**12,
    )
    assert [tuple(r) for r in routed.collect()] == [tuple(r) for r in plain.collect()]


def test_facet_df_never_routes_filtered_or_compound(spark):
    df = spark.read.parquet(f"{SF}/orders.parquet")
    for built in (
        facet_df(df, {"o_orderstatus": "F"}, "o_orderpriority", arrow_min_rows=0),
        facet_df(df, None, ("o_orderpriority", "o_orderstatus"), arrow_min_rows=0),
        facet_df(df.filter(F.col("o_custkey") > 0), None, "o_orderpriority",
                 arrow_min_rows=0),
    ):
        assert "MapInPandas" not in built._jdf.queryExecution().executedPlan().toString()


def test_facet_df_exclusion_rewrite_still_routes(spark):
    # multi-select semantics: the facet column's OWN clause is excluded,
    # leaving an empty WHERE -> still a bare scan, still routable
    df = spark.read.parquet(f"{SF}/orders.parquet")
    routed = facet_df(
        df, {"o_orderpriority": "1-URGENT"}, "o_orderpriority", arrow_min_rows=0
    )
    assert "MapInPandas" in routed._jdf.queryExecution().executedPlan().toString()
    plain = facet_df(
        df, {"o_orderpriority": "1-URGENT"}, "o_orderpriority",
        arrow_min_rows=10**12,
    )
    assert [tuple(r) for r in routed.collect()] == [tuple(r) for r in plain.collect()]


# --------------------------------------------------------------------- #
# parquet_predicate_count: the equality/$in count companion
# --------------------------------------------------------------------- #

def test_predicate_count_string_equality(spark):
    from linkml_store_spark.operators.arrowagg import parquet_predicate_count

    df = spark.read.parquet(f"{SF}/lineitem.parquet")
    got = parquet_predicate_count(spark, df, "l_returnflag", ["R"], min_rows=0)
    assert got == df.filter(F.col("l_returnflag") == "R").count()


def test_predicate_count_string_in(spark):
    from linkml_store_spark.operators.arrowagg import parquet_predicate_count

    df = spark.read.parquet(f"{SF}/orders.parquet")
    vals = ["1-URGENT", "2-HIGH"]
    got = parquet_predicate_count(spark, df, "o_orderpriority", vals, min_rows=0)
    assert got == df.filter(F.col("o_orderpriority").isin(vals)).count()


def test_predicate_count_int_and_null_handling(spark, tmp_path):
    from linkml_store_spark.operators.arrowagg import parquet_predicate_count

    p = str(tmp_path / "ints.parquet")
    spark.createDataFrame(
        [(1,), (2,), (None,), (2,), (3,)], "v int"
    ).repartition(1).write.parquet(p)
    df = spark.read.parquet(p)
    assert parquet_predicate_count(spark, df, "v", [2], min_rows=0) == 2
    # NULL never matches an equality predicate
    assert parquet_predicate_count(spark, df, "v", [1, 3], min_rows=0) == 2
    assert parquet_predicate_count(spark, df, "v", [99], min_rows=0) == 0


def test_predicate_count_refusals(spark):
    from linkml_store_spark.operators.arrowagg import parquet_predicate_count

    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    # float column: Spark NaN ordering diverges from IEEE masks — refuse
    assert parquet_predicate_count(spark, li, "l_quantity", [5.0], min_rows=0) is None
    # cross-type literal on a string column (Spark would cast)
    assert parquet_predicate_count(spark, li, "l_returnflag", [1], min_rows=0) is None
    # below the size gate
    assert parquet_predicate_count(
        spark, li, "l_returnflag", ["R"], min_rows=10**12) is None
    # local relation: no parquet scan
    local = spark.createDataFrame([("x",)], "v string")
    assert parquet_predicate_count(spark, local, "v", ["x"], min_rows=0) is None
    # missing column / empty value list
    assert parquet_predicate_count(spark, li, "nope", ["R"], min_rows=0) is None
    assert parquet_predicate_count(spark, li, "l_returnflag", [], min_rows=0) is None


def test_collection_count_routes_equality_through_arrow(spark, tmp_path, monkeypatch):
    """Collection.query's pre-pagination total for a simple equality/$in
    where-clause routes through the Arrow dictionary-code count when the
    store clears the (patched) crossover gate, and the cached total is
    reused for paging."""
    # pins the ARROW-COUNT routes: the local tier would intercept
    # footer-small stores before them (round 9)
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    from linkml_store_spark.client import Client
    from linkml_store_spark.operators import arrowagg
    from linkml_store_spark.query import Query

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/db")
    coll = db.create_collection("orders", identifier_attribute="o_orderkey")
    coll.insert(spark.read.parquet(f"{SF}/orders.parquet"))
    want = coll.df.filter(F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")).count()

    monkeypatch.setattr(arrowagg, "ARROW_AGG_MIN_ROWS", 0)
    res = coll.query(Query(where_clause={"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}}, limit=5))
    assert res.num_rows == want
    ck = ("vcount", "o_orderpriority", ("1-URGENT", "2-HIGH"))
    assert coll._version.memos.get(ck) == want

    # above the arrow gate the composed route still answers — the value
    # zone map triages the files and the undecided remainder takes the
    # pushed-In JVM scan — same number, same paging memoization
    coll._version.memos.clear()
    monkeypatch.setattr(arrowagg, "ARROW_AGG_MIN_ROWS", 10**12)
    res2 = coll.query(Query(where_clause={"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}}, limit=5))
    assert res2.num_rows == want
    assert coll._version.memos.get(ck) == want

