"""Collection CRUDSI behavior (reference test strategy: test_api.py)."""

import pytest
from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from linkml_store_spark import collection
from linkml_store_spark.client import Client
from linkml_store_spark.query import Query


@pytest.fixture()
def db(spark):
    return Client(spark).attach_database("memory")


def test_insert_find_roundtrip(db, countries):
    coll = db.create_collection("Country", identifier_attribute="code")
    n = coll.insert(countries)
    assert n == len(countries)
    res = coll.find({"code": "FR"})
    assert res.num_rows == 1
    assert res.rows[0]["name"] == "France"
    assert res.rows[0]["languages"] == ["French"]


def test_find_default_limit_and_total_count(db):
    coll = db.create_collection("Nums")
    coll.insert([{"i": i} for i in range(250)])
    res = coll.find()
    assert res.num_rows == 250  # pre-pagination total
    assert len(res.rows) == 100  # default LIMIT 100
    res = coll.find(limit=-1)
    assert len(res.rows) == 250  # limit=-1 => unlimited
    res = coll.find(limit=10, offset=240, sort_by=["i"])
    assert [r["i"] for r in res.rows] == list(range(240, 250))


def test_sort_desc(db, countries):
    coll = db.create_collection("Country")
    coll.insert(countries)
    res = coll.find(sort_by=["-code"], limit=2)
    assert [r["code"] for r in res.rows] == ["US", "MX"]


def test_get_and_peek(db, countries):
    coll = db.create_collection("Country", identifier_attribute="code")
    coll.insert(countries)
    assert coll.get_one("JP")["capital"] == "Tokyo"
    assert coll.get(["JP", "FR"]).num_rows == 2
    assert len(coll.peek(3)) == 3
    assert coll.size() == len(countries)


def test_select_cols_nested(db, persons):
    coll = db.create_collection("Person", identifier_attribute="id")
    coll.insert(persons)
    res = coll.find({"id": 1}, select_cols=["name", "age_in_years"])
    assert res.rows == [{"name": "n1", "age_in_years": 25}]


def test_schema_induction_nested(db, persons):
    coll = db.create_collection("Person", identifier_attribute="id")
    coll.insert(persons)
    res = coll.find({"history.organization": {"$contains": "Org2"}}, limit=-1)
    assert [r["id"] for r in res.rows] == [2]


def test_delete_where(db, countries):
    coll = db.create_collection("Country", identifier_attribute="code")
    coll.insert(countries)
    n = coll.delete_where({"continent": "Europe"})
    assert n == 4
    assert coll.size() == len(countries) - 4
    assert coll.find({"continent": "Europe"}).num_rows == 0


def test_delete_objects(db, countries):
    coll = db.create_collection("Country", identifier_attribute="code")
    coll.insert(countries)
    n = coll.delete([{"code": "FR", "name": "France"}])
    assert n == 1
    assert coll.size() == len(countries) - 1


def test_update(db, countries):
    coll = db.create_collection("Country", identifier_attribute="code")
    coll.insert(countries)
    coll.update([{"code": "FR", "capital": "PARIS"}])
    assert coll.get_one("FR")["capital"] == "PARIS"
    assert coll.get_one("FR")["name"] == "France"  # untouched fields survive
    assert coll.size() == len(countries)


def test_upsert(db, countries):
    coll = db.create_collection("Country", identifier_attribute="code")
    coll.insert(countries)
    coll.upsert(
        [
            {"code": "FR", "name": "France", "capital": "Paris!", "continent": "Europe", "languages": ["French"]},
            {"code": "ES", "name": "Spain", "capital": "Madrid", "continent": "Europe", "languages": ["Spanish"]},
        ]
    )
    assert coll.size() == len(countries) + 1
    assert coll.get_one("FR")["capital"] == "Paris!"
    assert coll.get_one("ES")["name"] == "Spain"


def test_replace(db, countries):
    coll = db.create_collection("Country", identifier_attribute="code")
    coll.insert(countries)
    coll.replace([{"code": "XX", "name": "Only", "capital": "One", "continent": "None", "languages": []}])
    assert coll.size() == 1


def test_query_ir(db, countries):
    coll = db.create_collection("Country")
    coll.insert(countries)
    res = coll.query(Query(from_table="Country", where_clause={"continent": "Asia"}, sort_by=["code"]))
    assert [r["code"] for r in res.rows] == ["IN", "JP"]


def test_find_iter(db, countries):
    coll = db.create_collection("Country")
    coll.insert(countries)
    rows = list(coll.find_iter({"continent": "Europe"}))
    assert len(rows) == 4


def test_execute_sql(db, countries):
    coll = db.create_collection("Country")
    coll.insert(countries)
    res = db.execute_sql("SELECT continent, COUNT(*) AS n FROM Country GROUP BY continent ORDER BY n DESC")
    assert res.rows[0]["continent"] in ("Europe", "North America")


def test_drop_collection_drops_view_and_tolerates_a_missing_one(db, countries):
    coll = db.create_collection("Dropped")
    coll.insert(countries)
    assert db.execute_sql("SELECT COUNT(*) AS n FROM Dropped").rows[0]["n"] == len(countries)
    db.drop_collection("Dropped")
    assert not db.spark.catalog.tableExists("Dropped")
    db.drop_collection("Dropped")  # no view left: nothing raises


def test_parquet_persistence(spark, countries, tmp_path):
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/wh")
    coll = db.create_collection("Country", identifier_attribute="code")
    coll.insert(countries)
    # fresh database instance sees the persisted collection
    db2 = client.attach_database(f"spark://{tmp_path}/wh")
    coll2 = db2.get_collection("Country")
    assert coll2.size() == len(countries)
    coll2.delete_where({"continent": "Europe"})
    db3 = client.attach_database(f"spark://{tmp_path}/wh")
    assert db3.get_collection("Country").size() == len(countries) - 4


def test_store(db, countries, persons):
    db.store({"countries": countries, "persons": persons})
    assert db.get_collection("countries").size() == len(countries)
    assert db.get_collection("persons").size() == len(persons)


def test_referential_integrity(db):
    db.store(
        {
            "Person": [{"id": 1, "org": "Org1"}, {"id": 2, "org": "OrgMissing"}],
            "Organization": [{"id": "Org1", "name": "org one"}],
        }
    )
    violations = db.validate_referential_integrity(
        {"Person": [("org", "Organization", "id")]}
    )
    assert violations == [
        {"collection": "Person", "slot": "org", "target": "Organization", "value": "OrgMissing"}
    ]


def test_derived_collection_materializes_on_first_touch(db, countries):
    src = db.create_collection("dc_src", identifier_attribute="code")
    src.insert(countries)
    derived = db.create_collection(
        "dc_caps",
        derived_from={
            "source": "dc_src",
            "mappings": {"code": "code", "cap_u": "upper(capital)"},
            "where": {"continent": "Europe"},
        },
    )
    assert derived.exists()
    res = derived.find({}, limit=-1)
    assert res.num_rows == 4
    assert {r["cap_u"] for r in res.rows} == {"LONDON", "PARIS", "BERLIN", "BERN"}


def test_load_from_source_jsonpath(db, tmp_path):
    import json

    doc = {"wrapper": {"items": [{"a": 1}, {"a": 2}, {"a": 3}]}}
    p = tmp_path / "doc.json"
    p.write_text(json.dumps(doc))
    coll = db.create_collection("lfs")
    n = coll.load_from_source(str(p), format="json", json_path="$.wrapper.items[*]")
    assert n == 3
    assert coll.find({"a": {"$gte": 2}}).num_rows == 2


def test_set_operations(db, countries):
    a = db.create_collection("set_a", identifier_attribute="code")
    a.insert(countries[:8])
    b = db.create_collection("set_b", identifier_attribute="code")
    b.insert(countries[4:])
    assert a.union(b).count() == len(countries) + 4  # bag union
    assert a.intersect(b).count() == 4
    assert a.except_all(b).count() == 4
    assert a.distinct(["continent"]).count() == len(
        {c["continent"] for c in countries[:8]}
    )


def test_nan_stripped_to_null_on_insert(db):
    coll = db.create_collection("nanstrip", identifier_attribute="id")
    coll.insert([
        {"id": 1, "x": float("nan"), "tags": [1.0, float("nan")]},
        {"id": 2, "x": 3.5, "tags": None},
    ])
    rows = {r["id"]: r for r in coll.rows()}
    assert rows[1]["x"] is None           # NaN -> null (reference parity)
    assert rows[1]["tags"][1] is None
    assert coll.find({"x": None}).num_rows == 1
    assert coll.find({"x": {"$ne": None}}).num_rows == 1


def test_schema_induction_conflicting_ranges_raise():
    import pytest

    from linkml_store_spark.schema_utils import induce_schema

    # int+float coerce (reference collection.py:1128-1136)
    s = induce_schema([{"v": 1}, {"v": 2.5}])
    assert s["v"].dataType.simpleString() == "double"
    # string+int conflict raises (reference collection.py:1144-1153)
    with pytest.raises(ValueError):
        induce_schema([{"v": 1}, {"v": "two"}])


def test_find_with_facet_counts(db, countries):
    coll = db.create_collection("fcc", identifier_attribute="code")
    coll.insert(countries)
    res = coll.query(
        Query(
            from_table="fcc",
            where_clause={"continent": "Europe"},
            include_facet_counts=True,
            facet_slots=["continent", "languages"],
        )
    )
    assert res.num_rows == 4
    # facet on the where'd column sees ALL continents (multi-select exclusion)
    assert dict(res.facet_counts["continent"])["Asia"] == 2
    # facet on the array column is exploded AND filtered by the where
    assert dict(res.facet_counts["languages"])["German"] == 2  # DE, CH


def test_struct_to_linkml_roundtrip():
    from linkml_store_spark.schema_utils import (
        induce_schema,
        linkml_slots_to_struct,
        struct_to_linkml_slots,
    )

    objs = [
        {"id": 1, "name": "a", "score": 1.5, "tags": ["x"], "nested": {"k": "v"}},
    ]
    schema = induce_schema(objs)
    slots = struct_to_linkml_slots(schema)
    assert slots["id"]["range"] == "integer"
    assert slots["tags"] == {"multivalued": True, "range": "string"}
    assert slots["nested"]["range"] == "object"
    # roundtrip back to a StructType preserves shape
    back = linkml_slots_to_struct(slots)
    assert back["tags"].dataType.simpleString() == "array<string>"
    assert back["nested"].dataType.simpleString() == "struct<k:string>"


def test_sort_null_placement_matches_duckdb(db):
    # DuckDB (the reference's canonical backend) sorts NULLS LAST in both
    # directions; Spark's asc default is nulls-first — pinned in _sort_col
    coll = db.create_collection("nullsort", identifier_attribute="id")
    coll.insert([
        {"id": 1, "v": 5}, {"id": 2, "v": None}, {"id": 3, "v": 1},
    ])
    asc = [r["id"] for r in coll.find(sort_by=["v"]).rows]
    assert asc == [3, 1, 2]     # null last
    desc = [r["id"] for r in coll.find(sort_by=["-v"]).rows]
    assert desc == [1, 3, 2]    # null last


def test_collection_compact(spark, tmp_path):
    from linkml_store_spark.operators.scale import file_stats

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/wh")
    coll = db.create_collection("Events", identifier_attribute="id")
    # many small inserts -> file swarm in the warehouse
    coll.insert(spark.range(0, 2000).withColumn("v", F.col("id") * 3).repartition(16))
    path = db._collection_path("Events")
    assert file_stats(path)["num_files"] >= 16
    report = coll.compact(target_file_bytes=50 * 1024 * 1024, sort_cols=["id"])
    assert file_stats(path)["num_files"] < 16
    assert report["after"]["num_files"] < report["before"]["num_files"]
    # data intact, collection df refreshed, view still queryable
    assert coll.size() == 2000
    assert db.execute_sql("SELECT SUM(v) AS s FROM Events").rows[0]["s"] == sum(
        3 * i for i in range(2000)
    )


def test_collection_pipeline_methods(spark, sf_dir):
    """The training-pipeline operators are first-class Collection methods."""
    from pyspark.sql import functions as F

    from linkml_store_spark.client import Client
    from linkml_store_spark.sources.tables import load_table

    client = Client(spark)
    db = client.attach_database("memory", alias="_pipe")
    docs = db.create_collection("docs", identifier_attribute="doc_id")
    docs.insert(load_table(spark, sf_dir, "documents").limit(200))

    s = docs.split({"train": 0.8, "test": 0.2})
    assert s.filter(F.col("split").isNull()).count() == 0

    assert docs.scrub().count() == 200

    ch = docs.chunk(chunk_size=64, by_tokens=True)
    assert ch.filter(F.col("n_tokens") > 64).count() == 0

    ad = docs.approx_distinct("lang").first()
    assert 0 < ad["approx_distinct"] <= 10

    groups = docs.dedup_near()
    assert groups.count() == 200

    ev = db.create_collection("ev", identifier_attribute="event_id")
    ev.insert(load_table(spark, sf_dir, "events").limit(500))
    r = ev.rollup("ts", {"n": F.count(F.lit(1))}, grains=("day",))
    assert r.agg(F.sum("n")).first()[0] == 500


def test_zone_count_range_clause_intersects_same_side_bounds(spark, tmp_path):
    """{"$gte": 5, "$gt": 3} compiles to v>=5 AND v>3; the zone-map count
    clause must intersect (keep the stricter bound), not let the later
    op overwrite the earlier one -- num_rows must equal the page."""
    from linkml_store_spark.where import zone_clause

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/wh")
    coll = db.create_collection("T")
    coll.insert([{"v": float(i)} for i in range(10)])

    schema = coll.df.schema
    rng = zone_clause({"v": {"$gte": 5.0, "$gt": 3.0}}, schema)
    assert rng == ("range", ("v", 5.0, None, True, True))
    rng = zone_clause({"v": {"$gt": 5.0, "$gte": 5.0}}, schema)
    assert rng == ("range", ("v", 5.0, None, False, True))  # exclusive wins ties
    rng = zone_clause({"v": {"$lt": 10.0, "$lte": 20.0}}, schema)
    assert rng == ("range", ("v", None, 10.0, True, False))

    res = coll.find({"v": {"$gte": 5.0, "$gt": 3.0}}, limit=100)
    assert res.num_rows == 5 == len(res.rows)
    res = coll.find({"v": {"$lt": 8.0, "$lte": 20.0}}, limit=100)
    assert res.num_rows == 8 == len(res.rows)


def test_sort_by_accepts_tuple_specs(db):
    coll = db.create_collection("S")
    coll.insert([{"i": i, "v": float(100 - i)} for i in range(20)])
    a = coll.find(None, sort_by=[("v", "desc"), ("i", "asc")], limit=3)
    b = coll.find(None, sort_by=["-v", "i"], limit=3)
    assert [r["i"] for r in a.rows] == [r["i"] for r in b.rows] == [0, 1, 2]
    with pytest.raises(ValueError):
        coll.find(None, sort_by=[("v", "sideways")], limit=3)


def test_sort_spec_prefix_suffix_combinations(db):
    coll = db.create_collection("SS")
    coll.insert([{"i": i, "v": float(i)} for i in range(10)])
    # '-col desc': both markers agree -> descending on 'col'
    a = coll.find(None, sort_by=["-v desc"], limit=2)
    assert [r["i"] for r in a.rows] == [9, 8]
    # tuple with '-' prefix and agreeing direction
    b = coll.find(None, sort_by=[("-v", "desc")], limit=2)
    assert [r["i"] for r in b.rows] == [9, 8]
    # contradictory markers raise clearly
    with pytest.raises(ValueError):
        coll.find(None, sort_by=["-v asc"], limit=2)
    with pytest.raises(ValueError):
        coll.find(None, sort_by=[("-v", "asc")], limit=2)


def test_tuple_sort_gets_pruned_plan(spark, tmp_path):
    """The stats-pruned default sort+limit plan must engage for tuple
    specs exactly as for the string form (same τ filter in the plan)."""
    from linkml_store_spark.query import Query

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/wh")
    coll = db.create_collection("P")
    coll.insert([{"i": i, "v": float(i)} for i in range(5000)])
    res_t = coll.query(Query(sort_by=[("v", "desc")], limit=5))
    res_s = coll.query(Query(sort_by=["-v"], limit=5))
    assert [r["i"] for r in res_t.rows] == [r["i"] for r in res_s.rows]
    from linkml_store_spark.collection import _sort_parse

    assert _sort_parse(("v", "desc")) == ("v", True)
    assert _sort_parse("-v desc") == ("v", True)
    assert _sort_parse("v") == ("v", False)


def test_unfiltered_query_total_from_footers(spark, tmp_path, monkeypatch):
    """An unfiltered Query's pre-pagination total over a persisted store
    comes from parquet footer num_rows (exact metadata) — memoized, zero
    jobs — and size() takes the same route. Mutations invalidate it."""
    # pins the SPARK-path footer memo: the local tier answers footer-small
    # stores without it
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    client = Client(spark)
    dbp = client.attach_database(f"spark://{tmp_path}/totdb")
    coll = dbp.create_collection("t", identifier_attribute="id")
    coll.insert(spark.createDataFrame([(i, i % 3) for i in range(500)], ["id", "v"]))

    res = coll.query(Query(limit=5))
    assert res.num_rows == 500
    assert coll._version.memos[("footer_totals",)][0] == 500
    assert coll.size() == 500
    # mutation invalidates: the memo must not survive an insert
    coll.insert(spark.createDataFrame([(1000, 1)], ["id", "v"]))
    assert ("footer_totals",) not in coll._version.memos
    assert coll.query(Query(limit=5)).num_rows == 501


def _plans(coll):
    """Keys of the prepared Spark plans memoized for the store version."""
    return [k for k, v in coll._version.memos.items() if isinstance(v, DataFrame)]


def test_query_plan_cache_reuse_and_invalidation(spark, tmp_path, monkeypatch):
    """Repeated identical Queries re-execute the SAME cached JVM Dataset
    (prepared-statement analog); a mutation clears the cache and the next
    query rebuilds against the new store."""
    # pins the SPARK-path plan cache: the local tier answers footer-small
    # stores without building a JVM Dataset
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    client = Client(spark)
    dbp = client.attach_database(f"spark://{tmp_path}/plandb")
    coll = dbp.create_collection("t", identifier_attribute="id")
    coll.insert(spark.createDataFrame([(i, i % 3) for i in range(300)], ["id", "v"]))

    q = Query(where_clause={"v": 1}, sort_by=["-id"], limit=3)
    r1 = coll.query(q)
    n_plans = len(_plans(coll))
    assert n_plans >= 1
    r2 = coll.query(q)
    assert len(_plans(coll)) == n_plans  # cache HIT: no new plan built
    assert r1.rows == r2.rows and r1.num_rows == r2.num_rows == 100
    assert [r["id"] for r in r1.rows] == [298, 295, 292]

    coll.insert(spark.createDataFrame([(9001, 1)], ["id", "v"]))
    assert _plans(coll) == []
    r3 = coll.query(q)
    assert r3.num_rows == 101
    assert [r["id"] for r in r3.rows] == [9001, 298, 295]


def test_plan_cache_capped(spark, tmp_path):
    """The plan cache evicts oldest-first at its 256-entry cap — distinct
    query shapes must not grow driver memory unboundedly."""
    client = Client(spark)
    dbp = client.attach_database(f"spark://{tmp_path}/capdb")
    coll = dbp.create_collection("t", identifier_attribute="id")
    coll.insert(spark.createDataFrame([(1, 1)], ["id", "v"]))
    version = coll._version
    version.memo(("total",), lambda: 1)  # a result memo: never evicted
    for i in range(300):
        version.memo(("k", i), lambda: coll.df)
    assert len(_plans(coll)) == 256
    assert ("k", 299) in version.memos and ("k", 0) not in version.memos
    assert version.memos[("total",)] == 1


def test_cluster_advisor_warns_once(spark, tmp_path, monkeypatch):
    """Round-7 advisor: repeated unfiltered facets on one low-cardinality
    column of an UNCLUSTERED store warn exactly once, naming
    compact(sort_cols=[col]); further queries stay silent."""
    import warnings

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")  # Spark-path advisor test
    client = Client(spark)
    dbp = client.attach_database(f"spark://{tmp_path}/advdb")
    coll = dbp.create_collection("t", identifier_attribute="id")
    rows = [(i, ["OPEN", "CLOSED", "HELD"][(i * 7) % 3]) for i in range(5000)]
    coll.insert(spark.createDataFrame(rows, ["id", "status"]))
    monkeypatch.setattr(collection, "CLUSTER_ADVICE_MIN_ROWS", 1000)  # test-sized store

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for _ in range(3):
            coll.query_facets(facet_columns=["status"])
    msgs = [str(x.message) for x in w if "compact" in str(x.message)]
    assert len(msgs) == 1, msgs
    assert "sort_cols=['status']" in msgs[0]

    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        coll.query_facets(facet_columns=["status"])
    assert not [x for x in w2 if "compact" in str(x.message)]


def test_cluster_advisor_range_and_topk_shapes(spark, tmp_path, monkeypatch):
    """Round-8 letter: the stats-pruned top-k and range zone counts refuse
    on exactly the same unclustered layouts as facets/equality counts —
    repeated refused queries of BOTH shapes now feed the advisor (float
    sort keys included, which the value-zone shapes exclude)."""
    import warnings

    from linkml_store_spark.query import Query

    # these pin the SPARK-path advisor: the local tier deliberately
    # bypasses advisor accounting on footer-small stores, so pin it off
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    client = Client(spark)
    dbp = client.attach_database(f"spark://{tmp_path}/advshapes")
    coll = dbp.create_collection("t", identifier_attribute="id")
    # interleaved values across 4 files: every file's [min,max] straddles
    # any interior range/top-k threshold -> zone decides nothing
    rows = [(i, float(i % 1000), i % 500) for i in range(8000)]
    df = spark.createDataFrame(rows, ["id", "price", "qty"]).repartition(4)
    coll.insert(df)
    monkeypatch.setattr(collection, "CLUSTER_ADVICE_MIN_ROWS", 1000)

    # range shape: three DIFFERENT straddling ranges on one column
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for lo in (100, 101, 102):
            r = coll.query(
                Query(where_clause={"qty": {"$gte": lo, "$lt": 400}}, limit=0)
            )
            assert r.num_rows > 0
    msgs = [str(x.message) for x in w if "compact" in str(x.message)]
    assert len(msgs) == 1 and "sort_cols=['qty']" in msgs[0], msgs

    # top-k shape: repeated sorts on a FLOAT key, unskippable layout
    # (vary the limit so the page-plan cache doesn't absorb the calls)
    with warnings.catch_warnings(record=True) as w2:
        warnings.simplefilter("always")
        for k in (10, 11, 12):
            r = coll.query(Query(sort_by=["-price"], limit=k))
            assert len(r.rows) == k
    msgs2 = [str(x.message) for x in w2 if "compact" in str(x.message)]
    assert len(msgs2) == 1 and "sort_cols=['price']" in msgs2[0], msgs2

    # after clustering on the range column, the same count answers from
    # footers (decided or partial) and the advisor stays quiet
    coll.compact(sort_cols=["qty"])
    with warnings.catch_warnings(record=True) as w3:
        warnings.simplefilter("always")
        r = coll.query(
            Query(where_clause={"qty": {"$gte": 100, "$lt": 400}}, limit=0)
        )
        assert r.num_rows == sum(1 for _i, _p, q in rows if 100 <= q < 400)
    assert not [x for x in w3 if "compact(" in str(x.message)]


def test_cluster_advisor_count_path_hits(spark, tmp_path, monkeypatch):
    """Equality/$in counts through Collection.query on an unclustered
    store also feed the advisor (zone decided nothing -> hit per query)."""
    import warnings

    from linkml_store_spark.query import Query

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")  # Spark-path advisor test
    client = Client(spark)
    dbp = client.attach_database(f"spark://{tmp_path}/advcnt")
    coll = dbp.create_collection("t", identifier_attribute="id")
    rows = [(i, ["A", "B"][i % 2]) for i in range(4000)]
    coll.insert(spark.createDataFrame(rows, ["id", "v"]))
    monkeypatch.setattr(collection, "CLUSTER_ADVICE_MIN_ROWS", 1000)

    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for _ in range(3):
            # distinct literals defeat the result memo: each query recounts
            coll._version.memos.pop(("vcount", "v", ("A",)), None)
            assert coll.query(Query(where_clause={"v": "A"}, limit=0)).num_rows == 2000
    msgs = [str(x.message) for x in w if "compact" in str(x.message)]
    assert len(msgs) == 1 and "sort_cols=['v']" in msgs[0]


def test_collection_count_composes_value_zone_map_and_in_scan(
    spark, tmp_path, monkeypatch, sf_dir
):
    """Collection.query's pre-pagination total for a simple equality/$in
    where-clause: the value zone map triages the store's files and the
    undecided remainder takes the pushed-In JVM count; the total is
    memoized for paging."""
    # pins the Spark-path count routes: the local tier would intercept
    # footer-small stores before them
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/db")
    coll = db.create_collection("orders", identifier_attribute="o_orderkey")
    coll.insert(spark.read.parquet(f"{sf_dir}/orders.parquet"))
    vals = ["1-URGENT", "2-HIGH"]
    want = coll.df.filter(F.col("o_orderpriority").isin(vals)).count()

    res = coll.query(Query(where_clause={"o_orderpriority": {"$in": vals}}, limit=5))
    assert res.num_rows == want
    assert coll._version.memos.get(("vcount", "o_orderpriority", tuple(vals))) == want
    assert [k for k in coll._version.memos if k[0] == "in_scan"]
