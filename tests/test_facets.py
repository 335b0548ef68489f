"""Facet engine semantics (reference §2.5: exclusion rewrite, explode,
compound tuples, min-count, top-k)."""

import pytest
from pyspark.sql import functions as F

from linkml_store_spark.client import Client


@pytest.fixture()
def coll(spark, countries):
    db = Client(spark).attach_database("memory")
    c = db.create_collection("Country", identifier_attribute="code")
    c.insert(countries)
    return c


def test_single_facet(coll):
    fc = coll.query_facets(facet_columns=["continent"])
    counts = dict(fc["continent"])
    assert counts["Europe"] == 4
    assert counts["North America"] == 3
    # descending by count
    values = [c for _, c in fc["continent"]]
    assert values == sorted(values, reverse=True)


def test_multivalued_facet_explodes(coll):
    fc = coll.query_facets(facet_columns=["languages"])
    counts = dict(fc["languages"])
    assert counts["English"] == 4
    assert counts["French"] == 3
    assert counts["Romansh"] == 1


def test_facet_exclusion_rewrite(coll):
    # Solr-style multi-select: the facet column's own condition is dropped
    fc = coll.query_facets(
        where={"continent": "Europe"}, facet_columns=["continent", "capital"]
    )
    assert dict(fc["continent"])["North America"] == 3  # not filtered to Europe
    assert len(fc["capital"]) == 4  # capital facet IS filtered to Europe


def test_compound_facet(coll):
    fc = coll.query_facets(facet_columns=[("continent", "capital")])
    counts = dict(fc[("continent", "capital")])
    assert counts[("Europe", "Paris")] == 1


def test_facet_limit_and_mincount(coll):
    fc = coll.query_facets(facet_columns=["languages"], facet_limit=2)
    assert len(fc["languages"]) == 2
    fc = coll.query_facets(facet_columns=["languages"], facet_min_count=3)
    assert all(c >= 3 for _, c in fc["languages"])


def test_default_facet_columns_all(coll):
    fc = coll.query_facets(facet_limit=5)
    assert set(fc) == {"name", "code", "capital", "continent", "languages"}


def test_group_by(coll):
    groups = coll.group_by("continent", agg_map={"list": ["name", "capital"]})
    by_key = {g["continent"]: g for g in groups}
    assert len(by_key["Europe"]["objects"]) == 4
    assert {o["name"] for o in by_key["Asia"]["objects"]} == {"Japan", "India"}


def test_describe(spark, coll):
    desc = coll.describe()
    rows = {r["column"]: r for r in desc.collect()}
    assert rows["code"]["count"] == 12
    assert rows["continent"]["top"] == "Europe"
    assert rows["continent"]["freq"] == 4


def test_one_pass_equals_per_column(coll):
    from linkml_store_spark.facets import query_facets

    cols = ["continent", "capital"]
    slow = query_facets(coll.df, None, cols, one_pass=False)
    fast = query_facets(coll.df, None, cols, one_pass=True)
    assert slow == fast


def test_one_pass_with_where_on_other_column(coll):
    from linkml_store_spark.facets import query_facets

    where = {"languages": {"$contains": "English"}}
    cols = ["continent", "capital"]
    slow = query_facets(coll.df, where, cols, one_pass=False)
    fast = query_facets(coll.df, where, cols, one_pass=True)
    assert slow == fast


def test_one_pass_auto_disabled_when_exclusion_needed(coll):
    from linkml_store_spark.facets import _one_pass_eligible

    # where mentions a facet column -> exclusion rewrite differs per facet
    assert not _one_pass_eligible(
        coll.df, {"continent": "Europe"}, ["continent", "capital"]
    )
    # array columns need explode -> per-column path
    assert not _one_pass_eligible(coll.df, None, ["languages", "capital"])
    assert _one_pass_eligible(coll.df, None, ["continent", "capital"])


def test_one_pass_single_scan_plan(coll):
    from linkml_store_spark.facets import query_facets_one_pass
    # plan shape: grouping sets expand rows 2x but scan once
    from pyspark.sql import functions as F

    df = coll.df
    agg = df.groupingSets([["continent"], ["capital"]], "continent", "capital").agg(
        F.count(F.lit(1)).alias("count")
    )
    plan = agg._sc._jvm.PythonSQLUtils.explainString(agg._jdf.queryExecution(), "simple")
    assert plan.count("Scan") <= 1 or plan.count("LogicalRDD") <= 1


def test_facet_dotted_path_through_array(spark):
    from linkml_store_spark.facets import query_facets

    df = spark.createDataFrame(
        [
            {"id": 1, "history": [{"event": "hire"}, {"event": "move"}]},
            {"id": 2, "history": [{"event": "hire"}]},
            {"id": 3, "history": None},
        ],
        schema="id long, history array<struct<event: string>>",
    )
    got = query_facets(df, None, ["history.event"])
    counts = dict(got["history.event"])
    assert counts["hire"] == 2 and counts["move"] == 1


def test_group_by_agg_map(coll):
    out = coll.group_by(
        "continent",
        agg_map={"first": ["continent"], "list": ["name", "capital"]},
    )
    europe = next(g for g in out if g["continent"] == "Europe")
    assert len(europe["objects"]) == 4
    assert {"name", "capital"} == set(europe["objects"][0].keys())


def test_describe_array_column_single_pass(spark):
    from linkml_store_spark.operators.describe import describe

    df = spark.createDataFrame(
        [
            {"id": 1, "tags": ["a", "b"]},
            {"id": 2, "tags": ["a", "b"]},
            {"id": 3, "tags": ["c"]},
            {"id": 4, "tags": None},
        ]
    )
    rows = {r["column"]: r for r in describe(df).collect()}
    # array mode rides the one-pass facet scan as JSON; printable form
    # matches collecting the array value itself
    assert rows["tags"]["top"] == str(["a", "b"])
    assert rows["tags"]["freq"] == 2
    assert rows["tags"]["count"] == 3  # nulls excluded from count
    assert rows["id"]["count"] == 4


def test_describe_single_column(spark):
    from linkml_store_spark.operators.describe import describe

    df = spark.createDataFrame([{"x": 1.0}, {"x": 2.0}, {"x": 2.0}])
    r = describe(df).collect()[0]
    assert r["count"] == 3 and r["top"] == "2.0" and r["freq"] == 2
    assert r["mean"] == pytest.approx(5 / 3)


# --------------------------------------------------------------------- #
# zone facet: whole-table footer counts on clustered stores (round 6)
# --------------------------------------------------------------------- #

def test_zone_facet_clustered_store_no_scan(spark, tmp_path):
    from linkml_store_spark.facets import facet_df

    path = str(tmp_path / "zf_clustered")
    rows = [(i, ["OPEN", "CLOSED", "HELD"][i % 3] if i % 10 else None)
            for i in range(9000)]
    df = spark.createDataFrame(rows, "id long, status string")
    for s in ["OPEN", "CLOSED", "HELD"]:
        df.filter(df.status == s).coalesce(1).write.mode("append").parquet(path)
    df.filter(df.status.isNull()).coalesce(1).write.mode("append").parquet(path)
    scan = spark.read.parquet(path)
    routed = facet_df(scan, None, "status")
    plan = routed._jdf.queryExecution().executedPlan().toString()
    assert "FileScan" not in plan  # footer-decided: zero data scan
    plain = (
        scan.groupBy("status").count()
        .orderBy(F.desc("count"), F.asc("status")).limit(100)
    )
    assert [tuple(r) for r in routed.collect()] == [tuple(r) for r in plain.collect()]


def test_zone_facet_int_column_and_min_count(spark, tmp_path):
    from linkml_store_spark.facets import facet_df

    path = str(tmp_path / "zf_ints")
    df = spark.createDataFrame([(i, i % 3) for i in range(600)], ["id", "b"])
    for v in range(3):
        df.filter(df.b == v).coalesce(1).write.mode("append").parquet(path)
    scan = spark.read.parquet(path)
    routed = facet_df(scan, None, "b", facet_limit=2, facet_min_count=2)
    plain = (
        scan.groupBy("b").count().filter(F.col("count") >= 2)
        .orderBy(F.desc("count"), F.asc("b")).limit(2)
    )
    assert "FileScan" not in routed._jdf.queryExecution().executedPlan().toString()
    assert [tuple(r) for r in routed.collect()] == [tuple(r) for r in plain.collect()]


def test_zone_facet_unclustered_falls_through(spark):
    # sf lineitem is a single mixed row group: min != max -> the zone
    # route must NOT fire and the scan routes answer as before
    from linkml_store_spark.facets import facet_df

    df = spark.read.parquet("/root/testdata/sf0.01/lineitem.parquet")
    routed = facet_df(df, None, "l_returnflag")
    assert "FileScan" in routed._jdf.queryExecution().executedPlan().toString()


def test_query_facets_zone_route_mixed_columns(spark, tmp_path):
    """query_facets on a clustered store: the cluster column is answered
    from footers (zone route), the mixed column still scans — and both
    match the pure one-pass answer exactly, null groups and ties included."""
    from linkml_store_spark.facets import query_facets, query_facets_one_pass

    path = str(tmp_path / "qf_zone")
    rows = [(i, ["OPEN", "CLOSED", "HELD"][i % 3] if i % 10 else None,
             ["x", "y"][i % 2]) for i in range(3000)]
    df = spark.createDataFrame(rows, "id long, status string, tag string")
    for s in ["OPEN", "CLOSED", "HELD"]:
        df.filter(df.status == s).coalesce(1).write.mode("append").parquet(path)
    df.filter(df.status.isNull()).coalesce(1).write.mode("append").parquet(path)
    scan = spark.read.parquet(path)
    got = query_facets(scan, None, ["status", "tag"])
    want = query_facets_one_pass(scan, None, ["status", "tag"])
    assert got == want
    # min_count + limit through the zone route
    got2 = query_facets(scan, None, ["status"], facet_limit=2, facet_min_count=2)
    want2 = query_facets_one_pass(scan, None, ["status"], facet_limit=2,
                                  facet_min_count=2)
    assert got2 == want2


def test_cluster_once_then_footer_answers_everything(spark, tmp_path, monkeypatch):
    """The 100 TB maintenance loop end-to-end: one compact(sort_cols=[c])
    pass re-clusters the collection store, after which the categorical
    count (value zone map), the facet (zone facet), and paging totals all
    answer through Collection APIs with footer-decided plans."""
    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    # pins the SPARK-path zone routes: the local tier answers footer-small
    # stores without them
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/loopdb")
    coll = db.create_collection("tickets", identifier_attribute="id")
    rows = [(i, ["OPEN", "CLOSED", "HELD"][(i * 7) % 3]) for i in range(6000)]
    coll.insert(spark.createDataFrame(rows, ["id", "status"]))

    coll.compact(target_file_bytes=64 * 1024, sort_cols=["status"])

    # the rewritten store is zone-decided except for range BOUNDARY files
    # (a 3-value range partitioning may split a category across a file
    # boundary) — the composed routes scan only those stragglers
    from linkml_store_spark.operators.topk import value_decision

    d = value_decision(coll._zones("status"), ["OPEN"])
    assert len(d.undecided) <= 2, d.undecided
    assert d.answer <= 2000

    # count through Collection.query (value zone route + paging memo)
    res = coll.query(Query(where_clause={"status": "OPEN"}, limit=3))
    assert res.num_rows == 2000
    assert coll._version.memos[("vcount", "status", ("OPEN",))] == 2000

    # facet through Collection.query_facets (zone facet route)
    facets = coll.query_facets(facet_columns=["status"])
    assert facets["status"] == [("CLOSED", 2000), ("HELD", 2000), ("OPEN", 2000)]


def test_zone_facet_empty_store_falls_through(spark, tmp_path):
    # an empty parquet store has zero row groups: ([], []) from the footer
    # triage must NOT build an empty VALUES plan (bench floor-pass found it)
    from linkml_store_spark.facets import facet_df

    path = str(tmp_path / "zf_empty")
    spark.createDataFrame([], "v string, x long").coalesce(1).write.parquet(path)
    out = facet_df(spark.read.parquet(path), None, "v")
    assert out.collect() == []


def test_zone_facet_backslash_and_quote_values(spark, tmp_path):
    """ADVICE r6 (high): Spark SQL string literals treat backslash as an
    escape — the inline-VALUES zone facet must escape it, or 'C:\\Users'
    silently facets as 'C:Users' and a trailing backslash swallows the
    closing quote (ParseException). Pin: values with backslashes, a
    TRAILING backslash, and single quotes all round-trip byte-exact and
    still answer without a FileScan."""
    from linkml_store_spark.facets import facet_df

    path = str(tmp_path / "zf_backslash")
    vals = ["C:\\Users", "abc\\", "O'Brien"]
    rows = [(i, vals[i % 3]) for i in range(300)]
    df = spark.createDataFrame(rows, "id long, v string")
    for s in vals:
        df.filter(df.v == s).coalesce(1).write.mode("append").parquet(path)
    scan = spark.read.parquet(path)
    routed = facet_df(scan, None, "v")
    assert "FileScan" not in routed._jdf.queryExecution().executedPlan().toString()
    plain = (
        scan.groupBy("v").count()
        .orderBy(F.desc("count"), F.asc("v")).limit(100)
    )
    assert [tuple(r) for r in routed.collect()] == [tuple(r) for r in plain.collect()]


def test_zone_facet_backtick_column_name(spark, tmp_path):
    """ADVICE r6 (low): a backtick in the facet column name must not turn
    into a ParseException on the zone route — the identifier is escaped
    (or the route degrades); result matches the plain scan either way."""
    from pyspark.sql import types as T

    from linkml_store_spark.facets import facet_df

    path = str(tmp_path / "zf_backtick")
    schema = T.StructType([
        T.StructField("id", T.LongType()),
        T.StructField("a`b", T.StringType()),
    ])
    rows = [(i, ["x", "y"][i % 2]) for i in range(200)]
    df = spark.createDataFrame(rows, schema)
    for s in ["x", "y"]:
        df.filter(F.col("`a``b`") == s).coalesce(1).write.mode("append").parquet(path)
    scan = spark.read.parquet(path)
    routed = facet_df(scan, None, "a`b")
    got = [tuple(r) for r in routed.collect()]
    assert got == [("x", 100), ("y", 100)]


def test_query_facets_reads_each_footer_once(spark, tmp_path, monkeypatch):
    """ADVICE r6 (low): query_facets over N columns must read each parquet
    footer ONCE per call, not once per column — and the partially-decided
    branch must reuse the decision instead of re-sweeping in facet_df."""
    import pyarrow.parquet as pq

    from linkml_store_spark import facets as facets_mod

    path = str(tmp_path / "qf_onepass")
    rows = [(i, ["OPEN", "CLOSED"][i % 2], ["a", "b"][i % 2]) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, s string, t string")
    for v in ["OPEN", "CLOSED"]:
        df.filter(df.s == v).coalesce(1).write.mode("append").parquet(path)
    scan = spark.read.parquet(path)

    calls = []
    real = pq.ParquetFile

    def counting(fp, *a, **kw):
        calls.append(str(fp))
        return real(fp, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    got = facets_mod.query_facets(scan, None, ["s", "t", "id"])
    n_files = len(scan.inputFiles())
    assert len(calls) == n_files, (len(calls), n_files)
    assert got["s"] == [("CLOSED", 200), ("OPEN", 200)]
    assert got["t"] == [("a", 200), ("b", 200)]


def test_collection_spark_facets_read_footers_once_per_version(
    spark, tmp_path, monkeypatch
):
    """On the Spark path, a Collection hands its store version's zone
    records to the facet engine: repeated facet calls on one version open
    no parquet footer, and a write's new version reads them again."""
    import pyarrow.parquet as pq

    from linkml_store_spark.client import Client

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    db = Client(spark).attach_database(f"spark://{tmp_path}/qfv")
    coll = db.create_collection("t", identifier_attribute="id")
    rows = [(i, ["OPEN", "CLOSED"][i % 2]) for i in range(400)]
    df = spark.createDataFrame(rows, "id long, s string")
    coll.insert(df.repartition(2, "s"))
    want = [("CLOSED", 200), ("OPEN", 200)]
    assert coll.query_facets(facet_columns=["s"])["s"] == want

    calls = []
    real = pq.ParquetFile

    def counting(fp, *a, **kw):
        calls.append(str(fp))
        return real(fp, *a, **kw)

    monkeypatch.setattr(pq, "ParquetFile", counting)
    assert coll.query_facets(facet_columns=["s"])["s"] == want
    res = coll.find(limit=0, include_facet_counts=True, facet_slots=["s"])
    assert res.facet_counts["s"] == want
    assert calls == []
    coll.insert([{"id": 400, "s": "OPEN"}])
    assert coll.query_facets(facet_columns=["s"])["s"] == [
        ("OPEN", 201), ("CLOSED", 200)
    ]
    assert calls


def test_zone_clause_rejects_cross_type_literals(spark):
    """A literal whose Python type doesn't match the column type gets no
    zone-map inputs (the plain plan's cast semantics apply, not the
    shortcut routes)."""
    from linkml_store_spark.where import zone_clause

    schema = spark.createDataFrame(
        [(1, "a", True)], "n long, s string, b boolean"
    ).schema
    assert zone_clause({"n": "5"}, schema) is None
    assert zone_clause({"s": 5}, schema) is None
    assert zone_clause({"n": True}, schema) is None
    assert zone_clause({"b": 1}, schema) is None
    assert zone_clause({"n": {"$in": [1, "2"]}}, schema) is None
    # an equality on a numeric column takes the range zone map first
    assert zone_clause({"n": 5}, schema) == ("range", ("n", 5, 5, True, True))
    assert zone_clause({"n": {"$in": [5]}}, schema) == ("value", ("n", [5]))
    assert zone_clause({"s": {"$in": ["a", "b"]}}, schema) == (
        "value", ("s", ["a", "b"])
    )
    assert zone_clause({"b": {"$eq": False}}, schema) == ("value", ("b", [False]))


def test_one_pass_backtick_columns(spark):
    """GROUPING SETS path parses identifiers too — backtick column names
    must work (round-7 quote_ident, same fix as facet_df)."""
    from pyspark.sql import types as T

    from linkml_store_spark.facets import query_facets_one_pass

    schema = T.StructType([
        T.StructField("a`b", T.StringType()),
        T.StructField("c`d", T.StringType()),
    ])
    df = spark.createDataFrame(
        [(["x", "y"][i % 2], ["p", "q"][i % 2]) for i in range(100)], schema
    )
    got = query_facets_one_pass(df, None, ["a`b", "c`d"])
    assert got["a`b"] == [("x", 50), ("y", 50)]
    assert got["c`d"] == [("p", 50), ("q", 50)]


def test_zone_values_inline_escaping_property(spark):
    """Property pin for the VALUES-inlining escaping (ADVICE r6 high):
    ANY ascii string — quotes, backslashes, trailing backslash, control
    chars — must round-trip byte-exact through the same literal builder
    the zone facet uses (backslash doubled BEFORE quote-doubling)."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    @settings(
        max_examples=25,
        deadline=None,
        suppress_health_check=[HealthCheck.function_scoped_fixture],
    )
    @given(
        vals=st.lists(
            st.text(
                alphabet=st.characters(min_codepoint=1, max_codepoint=127),
                min_size=0, max_size=12,
            ),
            min_size=1, max_size=4, unique=True,
        )
    )
    def check(vals):
        def _lit(v):  # the exact escaping _zone_facet_frame applies
            return "'" + v.replace("\\", "\\\\").replace("'", "''") + "'"

        rows = [(v, i + 1) for i, v in enumerate(vals)]
        sql = ",".join(f"({_lit(v)}, {c})" for v, c in rows)
        got = spark.sql(
            f"SELECT col, cnt FROM (VALUES {sql}) AS t(col, cnt)"
        ).collect()
        assert sorted((r[0], r[1]) for r in got) == sorted(rows)

    check()
