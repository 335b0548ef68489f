"""Statistics-pruned top-k (operators/topk.py): threshold math, result
parity with the plain TakeOrdered plan, pushdown plan shape, and the
clustered-data case where pruning actually skips row groups."""

import os

import numpy as np
import pytest
from pyspark.sql import functions as F

from linkml_store_spark.operators.topk import (
    _footer_metas,
    column_zones,
    range_decision,
    topk_decision,
    topk_stats_pruned,
    topk_threshold,
    value_decision,
)


def _zones(path, col):
    """The zone records of ``col`` over the store at ``path``."""
    return column_zones(_footer_metas(path), col)


def test_threshold_math_descending():
    # groups: (min, max, non_null_rows)
    stats = [(0, 100, 5), (50, 90, 5), (80, 85, 5)]
    # k=2: one-per-group bound = 2nd largest max = 90; min-mass: sorted by
    # min desc -> (80,..5) already >= 2 rows -> 80. tau = max(90, 80) = 90
    assert topk_threshold(stats, 2, descending=True) == 90
    # k=10: only 3 maxes -> one-per-group unavailable; min-mass: 80-group
    # has 5 rows, add 50-group -> 10 rows -> tau = 50
    assert topk_threshold(stats, 10, descending=True) == 50
    # k >= total non-null mass: no pruning
    assert topk_threshold(stats, 15, descending=True) is None


def test_threshold_math_ascending():
    stats = [(0, 100, 5), (50, 90, 5), (80, 85, 5)]
    # k=2 ascending: 2nd smallest min = 50; max-mass: group with smallest
    # max (85) has 5 rows >= 2 -> 85. tau = min(50, 85) = 50
    assert topk_threshold(stats, 2, descending=False) == 50


def test_threshold_null_mass():
    # a group whose rows are mostly null must not inflate the min-mass
    # bound (non-null counts are what the caller passes)
    stats = [(99, 100, 1), (0, 98, 50)]
    # k=5 descending: one-per-group needs 5 groups (unavailable);
    # min-mass: min=99 group has only 1 non-null -> must include min=0
    assert topk_threshold(stats, 5, descending=True) == 0


def test_parity_with_plain_plan(spark, sf_dir):
    path = os.path.join(sf_dir, "orders.parquet")
    pruned = topk_stats_pruned(
        spark, path, "o_totalprice", k=10,
        select_cols=["o_orderkey", "o_totalprice"],
        tiebreakers=[F.asc("o_orderkey")],
    ).collect()
    plain = (
        spark.read.parquet(path)
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
        .collect()
    )
    assert [tuple(r) for r in pruned] == [tuple(r) for r in plain]


def test_parity_ascending(spark, sf_dir):
    path = os.path.join(sf_dir, "orders.parquet")
    pruned = topk_stats_pruned(
        spark, path, "o_totalprice", k=7, descending=False,
        select_cols=["o_orderkey", "o_totalprice"],
        tiebreakers=[F.asc("o_orderkey")],
    ).collect()
    plain = (
        spark.read.parquet(path)
        .select("o_orderkey", "o_totalprice")
        .orderBy(F.asc("o_totalprice"), F.asc("o_orderkey"))
        .limit(7)
        .collect()
    )
    assert [tuple(r) for r in pruned] == [tuple(r) for r in plain]


def test_filter_reaches_scan(spark, sf_dir):
    path = os.path.join(sf_dir, "orders.parquet")
    q = topk_stats_pruned(spark, path, "o_totalprice", k=10)
    s = q._sc._jvm.PythonSQLUtils.explainString(q._jdf.queryExecution(), "formatted")
    assert "GreaterThanOrEqual(o_totalprice" in s, s


def test_clustered_data_prunes_row_groups(spark, tmp_path):
    # range-partition + sort by the value column (the write_clustered
    # layout): the threshold lands in the top slice and row groups below
    # it are skipped by pushdown
    path = str(tmp_path / "clustered")
    n = 20000
    df = spark.range(n).select(
        F.col("id").alias("k"), (F.col("id") * 7 % n).cast("double").alias("v")
    )
    df.repartitionByRange(8, "v").sortWithinPartitions("v").write.parquet(path)
    out = topk_stats_pruned(
        spark, path, "v", k=5, tiebreakers=[F.asc("k")]
    ).collect()
    expect = (
        spark.read.parquet(path).orderBy(F.desc("v"), F.asc("k")).limit(5).collect()
    )
    assert [tuple(r) for r in out] == [tuple(r) for r in expect]
    d = topk_decision(_zones(path, "v"), 5)
    # pruning is real: most row groups' max falls below tau
    assert len(d.undecided) <= 2, d
    assert not d.decided_nothing


def test_null_values_parity_both_directions(spark, tmp_path):
    # Null ordering is pinned NULLS LAST in both directions (DuckDB's
    # default): ascending pruned top-k must match the asc_nulls_last plain
    # plan even though the pushed filter eliminates nulls.
    path = str(tmp_path / "nulls")
    rows = [(i, float(i) if i % 3 else None) for i in range(200)]
    df = spark.createDataFrame(rows, ["id", "v"])
    df.repartition(4).write.parquet(path)
    for desc in (True, False):
        pruned = topk_stats_pruned(
            spark, path, "v", k=5, descending=desc, tiebreakers=[F.asc("id")]
        ).collect()
        order = F.desc_nulls_last("v") if desc else F.asc_nulls_last("v")
        plain = (
            spark.read.parquet(path).orderBy(order, F.asc("id")).limit(5).collect()
        )
        assert [tuple(r) for r in pruned] == [tuple(r) for r in plain], desc
        assert all(r["v"] is not None for r in pruned)


def test_null_mass_guard_keeps_null_tail(spark, tmp_path):
    # non-null mass <= k: pruning must be refused so the null tail of the
    # nulls-last ordering survives into the result
    path = str(tmp_path / "mostly_null")
    rows = [(i, float(i) if i < 3 else None) for i in range(50)]
    spark.createDataFrame(rows, ["id", "v"]).coalesce(1).write.parquet(path)
    out = topk_stats_pruned(
        spark, path, "v", k=5, descending=False, tiebreakers=[F.asc("id")]
    ).collect()
    assert [r["v"] for r in out] == [0.0, 1.0, 2.0, None, None]


def test_missing_stats_falls_back(spark, tmp_path):
    # string value column in ONE row group: the round-6 min-mass bound
    # yields the group's own min (filter keeps everything) — plan parity
    # regardless of whether the threshold engages
    path = str(tmp_path / "strs")
    df = spark.createDataFrame(
        [(i, f"name{i:05d}") for i in range(100)], ["id", "name"]
    )
    df.coalesce(1).write.parquet(path)
    out = topk_stats_pruned(
        spark, path, "name", k=3, tiebreakers=[F.asc("id")]
    ).collect()
    assert [r["name"] for r in out] == ["name00099", "name00098", "name00097"]


def test_timestamp_column_prunes(spark, sf_dir):
    # events.ts is a timestamp: parquet stats are INT64 micros — the
    # threshold must compare correctly against the timestamp column
    import os

    path = os.path.join(sf_dir, "events.parquet")
    ts_col = "ts"
    # pruning actually engages (datetime stats -> datetime threshold)
    assert topk_decision(_zones(path, ts_col), 5) is not None
    pruned = topk_stats_pruned(
        spark, path, ts_col, k=5, tiebreakers=[F.asc("event_id")]
    ).collect()
    plain = (
        spark.read.parquet(path)
        .orderBy(F.desc_nulls_last(ts_col), F.asc("event_id"))
        .limit(5)
        .collect()
    )
    assert [tuple(r) for r in pruned] == [tuple(r) for r in plain]


# ------------------------------------------------------------------ #
# zone-map filtered count (stats_filtered_count)
# ------------------------------------------------------------------ #
from linkml_store_spark.operators.topk import stats_filtered_count


def test_zone_count_matches_plain_scan(spark, sf_dir):
    import os

    path = os.path.join(sf_dir, "orders.parquet")
    for lo, hi, li, hi_inc in [
        (100000.0, 300000.0, True, True),
        (None, 150000.0, True, False),
        (400000.0, None, False, True),
    ]:
        got = stats_filtered_count(
            spark, path, "o_totalprice", lo, hi, li, hi_inc
        )
        c = F.col("o_totalprice")
        pred = F.lit(True)
        if lo is not None:
            pred = pred & (c >= lo if li else c > lo)
        if hi is not None:
            pred = pred & (c <= hi if hi_inc else c < hi)
        assert got == spark.read.parquet(path).filter(pred).count()


def test_zone_count_clustered_is_metadata_only(spark, tmp_path):
    # clustered layout: interior files fully decided -> answered from
    # footers; only the two boundary files need a scan
    path = str(tmp_path / "clustered_cnt")
    n = 40000
    df = spark.range(n).select(
        F.col("id").alias("k"), F.col("id").cast("double").alias("v")
    )
    df.repartitionByRange(8, "v").sortWithinPartitions("v").write.parquet(path)
    lo, hi = 10000.0, 30000.0
    decision = range_decision(_zones(path, "v"), lo, hi)
    assert decision is not None
    meta, undecided = decision.answer, decision.undecided
    assert len(undecided) <= 2, undecided  # only boundary files scan
    assert meta > 0
    got = stats_filtered_count(spark, path, "v", lo, hi)
    assert got == 20001  # [10000, 30000] inclusive


def test_zone_count_nulls_excluded(spark, tmp_path):
    path = str(tmp_path / "null_cnt")
    rows = [(i, float(i) if i % 4 else None) for i in range(400)]
    spark.createDataFrame(rows, ["id", "v"]).coalesce(1).write.parquet(path)
    # fully-covered range: nulls must NOT count
    got = stats_filtered_count(spark, path, "v", 0.0, 400.0)
    assert got == 300


def test_zone_count_equality(spark, tmp_path):
    path = str(tmp_path / "eq_cnt")
    spark.createDataFrame(
        [(i, float(i % 10)) for i in range(1000)], ["id", "v"]
    ).coalesce(1).write.parquet(path)
    assert stats_filtered_count(spark, path, "v", 3.0, 3.0) == 100


def test_collection_count_uses_zone_maps(spark, sf_dir, tmp_path):
    # the reference-parity find() total goes through the zone-map count
    # for simple numeric ranges — and stays identical to the plain plan
    from linkml_store_spark.client import Client
    from linkml_store_spark.sources.tables import load_table

    db = Client(spark=spark).attach_database(f"file:{tmp_path}/wh", alias="zc")
    coll = db.create_collection("orders")
    coll.insert(load_table(spark, sf_dir, "orders"))
    res = coll.find({"o_totalprice": {"$gte": 100000.0, "$lt": 300000.0}}, limit=5)
    plain = coll.df.filter(
        (F.col("o_totalprice") >= 100000.0) & (F.col("o_totalprice") < 300000.0)
    ).count()
    assert res.num_rows == plain
    # equality form
    first_price = coll.df.first()["o_totalprice"]
    res2 = coll.find({"o_totalprice": first_price}, limit=5)
    assert res2.num_rows == coll.df.filter(
        F.col("o_totalprice") == first_price
    ).count()
    # non-eligible clauses still work (string equality takes the plan)
    res3 = coll.find({"o_orderpriority": "1-URGENT"}, limit=5)
    assert res3.num_rows == coll.df.filter(
        F.col("o_orderpriority") == "1-URGENT"
    ).count()


from hypothesis import given, settings
from hypothesis import strategies as st


@settings(max_examples=10, deadline=None)
@given(
    seed=st.integers(0, 10_000),
    lo=st.one_of(st.none(), st.integers(-50, 450)),
    hi=st.one_of(st.none(), st.integers(-50, 450)),
    li=st.booleans(),
    hin=st.booleans(),
    nullfrac=st.sampled_from([0, 3, 7]),
    nanfrac=st.sampled_from([0, 11]),
)
def test_zone_count_property_matches_plain(
    spark, tmp_path_factory, seed, lo, hi, li, hin, nullfrac, nanfrac
):
    # nanfrac > 0 plants NaN rows: Spark's writer folds NaN into the
    # footer min/max, so the zone path must detect it, refuse, and still
    # agree with the plain scan (NaN ranks above every value in Spark)
    import numpy as np

    rng = np.random.RandomState(seed)
    path = str(tmp_path_factory.mktemp("zc") / "t")
    rows = [
        (
            i,
            None
            if (nullfrac and i % nullfrac == 0)
            else float("nan")
            if (nanfrac and i % nanfrac == 1)
            else float(rng.randint(0, 400)),
        )
        for i in range(500)
    ]
    spark.createDataFrame(rows, ["id", "v"]).repartition(3).write.parquet(path)
    got = stats_filtered_count(
        spark, path, "v", float(lo) if lo is not None else None,
        float(hi) if hi is not None else None, li, hin,
    )
    c = F.col("v")
    pred = F.lit(True)
    if lo is not None:
        pred = pred & (c >= float(lo) if li else c > float(lo))
    if hi is not None:
        pred = pred & (c <= float(hi) if hin else c < float(hi))
    assert got == spark.read.parquet(path).filter(pred).count()


def test_nan_stats_refuse_spark_written(spark, tmp_path):
    # Spark/parquet-mr folds NaN into footer min/max; both the pruned
    # top-k and the zone count must detect it and fall back to the plain
    # plan (Spark range filters exclude NaN while ORDER BY ranks it above
    # every value — no stats decision reproduces both)
    path = str(tmp_path / "nan_store")
    rows = [(i, float(i)) for i in range(50)] + [(50, float("nan")), (51, None)]
    spark.createDataFrame(rows, ["id", "v"]).coalesce(1).write.parquet(path)
    zones = _zones(path, "v")
    # NaN detected: the stats are not exact, so top-k refuses
    assert not any(z.exact for _fp, zs in zones for z in zs)
    assert topk_decision(zones, 3) is None
    # pruned top-k falls back and still matches the plain plan exactly
    # (NaN first under desc_nulls_last, then 49, 48, ...)
    got = [r["id"] for r in topk_stats_pruned(spark, path, "v", k=3).collect()]
    want = [
        r["id"]
        for r in spark.read.parquet(path)
        .orderBy(F.desc_nulls_last("v"))
        .limit(3)
        .collect()
    ]
    assert got == want == [50, 49, 48]
    # zone count refuses the metadata path and matches the plain count:
    # Spark ranks NaN above every value, so it PASSES the lower bound
    # (rows 10..49 plus the NaN row = 41) but fails any upper bound
    assert stats_filtered_count(spark, path, "v", 10.0, None) == 41
    assert stats_filtered_count(spark, path, "v", 10.0, 100.0) == 40


def test_zone_count_int_column_float_bound_mirrors_spark_cast(spark, tmp_path):
    # beyond 2^53 Spark compares cast(col as double) >= literal; exact
    # Python int comparison would decide groups differently — the zone
    # path must mirror the lossy cast
    path = str(tmp_path / "bigint")
    big = 9223372036854774800  # rounds DOWN to 9223372036854774784.0
    rows = [(1, big), (2, 100)]
    spark.createDataFrame(rows, ["id", "v"]).coalesce(1).write.parquet(path)
    lo = 9223372036854774784.0
    got = stats_filtered_count(spark, path, "v", lo, None)
    plain = spark.read.parquet(path).filter(F.col("v") >= lo).count()
    assert got == plain == 1


def test_no_predicate_count_uses_capped_sweep(spark, tmp_path, monkeypatch):
    # the lo=hi=None branch must honor the same file cap as the bounded
    # branch (sequential driver IO), falling back to the distributed count
    import linkml_store_spark.operators.topk as topk_mod

    path = str(tmp_path / "many")
    spark.createDataFrame([(i,) for i in range(20)], ["v"]).repartition(
        4
    ).write.parquet(path)
    monkeypatch.setattr(topk_mod, "_MAX_SWEEP_FILES", 2)
    # helper refuses beyond the cap...
    assert topk_mod._parquet_files(path, topk_mod._MAX_SWEEP_FILES) is None
    # ...and the count still answers via the Spark fallback
    assert stats_filtered_count(spark, path, "v") == 20


def test_zone_count_mixed_store_per_file_degradation(spark, tmp_path):
    # one clean Spark-written file (metadata-decided) + one NaN-bearing
    # file (footer max=NaN -> undecided -> scanned): the zone count must
    # still equal the plain scan, using metadata for the clean file only
    path = str(tmp_path / "mixed")
    spark.createDataFrame(
        [(i, float(i)) for i in range(100)], ["id", "v"]
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(100 + i, float(100 + i)) for i in range(20)]
        + [(999, float("nan"))],
        ["id", "v"],
    ).coalesce(1).write.mode("append").parquet(path)
    dec = range_decision(_zones(path, "v"), 0.0, 1000.0)
    assert dec is not None
    meta, undecided = dec.answer, dec.undecided
    assert meta == 100 and len(undecided) == 1  # clean file decided
    got = stats_filtered_count(spark, path, "v", 0.0, 1000.0)
    plain = (
        spark.read.parquet(path)
        .filter((F.col("v") >= 0.0) & (F.col("v") <= 1000.0))
        .count()
    )
    assert got == plain == 120


def test_zone_count_missing_column_file_refuses_globally(spark, tmp_path):
    # schema evolution: one file lacks the predicate column. The zone
    # path must REFUSE (a metadata-decided mix with a subset scan could
    # silently disagree with whatever schema Spark's plain read infers),
    # leaving stats_filtered_count with exactly the plain scan's
    # behavior. NOTE Spark's default read infers the schema from ONE
    # footer (no automatic union without mergeSchema), so the plain scan
    # itself either counts only v-bearing rows or raises
    # UNRESOLVED_COLUMN depending on which footer wins — the operator
    # must mirror that outcome, whichever it is, not invent its own.
    from pyspark.errors.exceptions.captured import AnalysisException

    path = str(tmp_path / "evolved")
    spark.createDataFrame(
        [(i, float(i)) for i in range(50)], ["id", "v"]
    ).coalesce(1).write.parquet(path)
    spark.createDataFrame(
        [(100 + i,) for i in range(10)], ["id"]
    ).coalesce(1).write.mode("append").parquet(path)
    assert _zones(path, "v") is None  # the reader refuses the store
    assert range_decision(_zones(path, "v"), 10.0, None) is None

    def outcome(fn):
        try:
            return ("ok", fn())
        except AnalysisException:
            return ("unresolved", None)

    got = outcome(lambda: stats_filtered_count(spark, path, "v", 10.0, None))
    plain = outcome(
        lambda: spark.read.parquet(path).filter(F.col("v") >= 10.0).count()
    )
    assert got == plain
    if got[0] == "ok":
        assert got[1] == 40
    # with explicit schema union both engines agree on the true answer
    merged = (
        spark.read.option("mergeSchema", "true")
        .parquet(path)
        .filter(F.col("v") >= 10.0)
        .count()
    )
    assert merged == 40


# --------------------------------------------------------------------- #
# value zone map: equality/$in counts over strings and ints
# --------------------------------------------------------------------- #

def test_value_zone_clustered_string_is_metadata_only(spark, tmp_path):
    from linkml_store_spark.operators.topk import zone_value_count

    path = str(tmp_path / "status_clustered")
    rows = [(i, ["OPEN", "CLOSED", "HELD"][i % 3]) for i in range(9000)]
    df = spark.createDataFrame(rows, ["id", "status"])
    # one file per status (hash repartition may collide categories into
    # one partition): every file collapses to stored_min == stored_max
    for s in ["OPEN", "CLOSED", "HELD"]:
        df.filter(df.status == s).coalesce(1).write.mode("append").parquet(path)
    decision = value_decision(_zones(path, "status"), ["OPEN"])
    assert decision is not None
    meta, undecided = decision.answer, decision.undecided
    assert undecided == []          # pure driver metadata, zero scan tasks
    assert meta == 3000
    assert zone_value_count(spark, path, "status", ["OPEN"]) == 3000
    # $in across two categories
    assert zone_value_count(spark, path, "status", ["OPEN", "HELD"]) == 6000
    # absent value: exclusion decides every file
    d0 = value_decision(_zones(path, "status"), ["GONE"])
    assert (d0.answer, d0.undecided) == (0, [])


def test_value_zone_unclustered_matches_plain(spark, tmp_path):
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.topk import zone_value_count

    path = str(tmp_path / "status_uniform")
    rows = [(i, ["OPEN", "CLOSED", None][i % 3]) for i in range(900)]
    spark.createDataFrame(rows, "id long, status string").repartition(
        4
    ).write.parquet(path)
    got = zone_value_count(spark, path, "status", ["OPEN"])
    want = (
        spark.read.parquet(path).filter(F.col("status") == "OPEN").count()
    )
    assert got == want == 300  # NULLs never match


def test_value_zone_int_column(spark, tmp_path):
    from linkml_store_spark.operators.topk import zone_value_count

    path = str(tmp_path / "intvals")
    rows = [(i, i % 4) for i in range(8000)]
    df = spark.createDataFrame(rows, ["id", "bucket"])
    df.repartition(4, "bucket").sortWithinPartitions("bucket").write.parquet(path)
    d = value_decision(_zones(path, "bucket"), [2])
    assert d.undecided == [] and d.answer == 2000
    assert zone_value_count(spark, path, "bucket", [1, 3]) == 4000


def test_value_zone_refusals(spark, tmp_path):
    path = str(tmp_path / "refuse")
    spark.createDataFrame(
        [(1, "café"), (2, "abc")], ["id", "s"]
    ).coalesce(1).write.parquet(path)
    zones = _zones(path, "s")
    # non-ASCII probe value: legacy signed-byte orderings could diverge
    assert value_decision(zones, ["café"]) is None
    # non-ASCII stats leave the file undecided even for an ASCII probe
    d = value_decision(zones, ["abc"])
    assert len(d.undecided) == 1 and d.answer == 0
    # bool / None / mixed-type values refuse
    assert value_decision(zones, [True]) is None
    assert value_decision(zones, [None]) is None
    assert value_decision(zones, ["a", 1]) is None


def test_collection_value_count_routes_through_zone(spark, tmp_path, monkeypatch):
    """A status-clustered Collection store answers equality/$in totals
    from footers alone; the cached total is reused for paging."""
    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    # pins the SPARK-path zone count: the local tier answers footer-small
    # stores without it
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/zvdb")
    coll = db.create_collection("tickets", identifier_attribute="id")
    rows = [(i, ["OPEN", "CLOSED", "HELD"][i % 3]) for i in range(3000)]
    coll.insert(spark.createDataFrame(rows, ["id", "status"]))
    res = coll.query(Query(where_clause={"status": "OPEN"}, limit=5))
    want = coll.df.filter(coll.df.status == "OPEN").count()
    assert res.num_rows == want == 1000
    assert coll._version.memos.get(("vcount", "status", ("OPEN",))) == want
    res2 = coll.query(
        Query(where_clause={"status": {"$in": ["OPEN", "HELD"]}}, limit=5)
    )
    assert res2.num_rows == 2000


def test_zone_records_follow_the_store_version(spark, tmp_path, monkeypatch):
    """A Collection's zone records belong to one store version: after an
    insert that widens the columns' ranges, the repeated range count,
    ``$in`` count and sorted find read the new version's records and
    match the plain Spark plan."""
    from linkml_store_spark.client import Client
    from linkml_store_spark.query import Query

    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    db = Client(spark).attach_database(f"spark://{tmp_path}/zver")
    coll = db.create_collection("t", identifier_attribute="id")
    rows = [(i, float(i % 50), i % 7) for i in range(600)]
    df = spark.createDataFrame(rows, "id long, qty double, n long")
    coll.insert(df.repartitionByRange(3, "qty").sortWithinPartitions("qty"))

    def reads():
        return (
            coll.query(Query(where_clause={"qty": {"$gte": 40.0}}, limit=0))
            .num_rows,
            coll.query(Query(where_clause={"n": {"$in": [3, 9]}}, limit=0))
            .num_rows,
            [r["qty"] for r in coll.find(sort_by=["-qty"], limit=5).rows],
        )

    def plain():
        d = coll.df
        return (
            d.filter(F.col("qty") >= 40.0).count(),
            d.filter(F.col("n").isin(3, 9)).count(),
            [r["qty"] for r in d.orderBy(F.desc_nulls_last("qty"))
             .limit(5).collect()],
        )

    assert reads() == plain()
    assert max(z.hi for _fp, zs in coll._zones("qty") for z in zs) == 49.0
    coll.insert([{"id": 600 + i, "qty": 100.0 + i, "n": 9} for i in range(4)])
    assert reads() == plain()
    zones = coll._version.memos[("zones", "qty")]
    assert max(z.hi for _fp, zs in zones for z in zs) == 103.0


# --------------------------------------------------------------------- #
# string sort keys: truncation-safe min-mass pruning
# --------------------------------------------------------------------- #

def test_topk_threshold_min_mass_only_suppresses_bound1():
    from linkml_store_spark.operators.topk import topk_threshold

    # three groups of 2 rows; DESC k=2: one-per-group bound would be the
    # 2nd-largest max ("m"), min-mass bound accumulates by min desc ("k")
    stats = [("a", "f", 2), ("g", "m", 2), ("k", "z", 2)]
    assert topk_threshold(stats, 2, descending=True) == "m"
    assert topk_threshold(stats, 2, descending=True, min_mass_only=True) == "k"
    # ASC k=2: min-mass accumulates by max asc -> "f"
    assert topk_threshold(stats, 2, descending=False, min_mass_only=True) == "f"


def test_string_stats_ascii_guard(spark, tmp_path):
    def groups(path, col):
        return [z for _fp, zs in _zones(path, col) for z in zs]

    p1 = str(tmp_path / "ascii")
    spark.createDataFrame(
        [("alpha",), ("omega",), (None,)], "s string"
    ).coalesce(1).write.parquet(p1)
    (z,) = groups(p1, "s")
    # nulls excluded from mass
    assert (z.lo, z.hi, z.nonnull, z.ascii) == ("alpha", "omega", 2, True)
    p2 = str(tmp_path / "nonascii")
    spark.createDataFrame([("café",), ("abc",)], "s string").coalesce(
        1
    ).write.parquet(p2)
    assert not any(z.ascii for z in groups(p2, "s"))
    assert topk_decision(_zones(p2, "s"), 1) is None
    # a numeric column is exact, never ascii
    p3 = str(tmp_path / "nums")
    spark.createDataFrame([(1,), (2,)], "v long").coalesce(1).write.parquet(p3)
    assert all(z.exact and not z.ascii for z in groups(p3, "v"))


def test_topk_stats_pruned_string_column(spark, tmp_path):
    from linkml_store_spark.operators.topk import topk_stats_pruned

    path = str(tmp_path / "str_topk")
    rows = [(i, f"user_{i:06d}") for i in range(20000)]
    df = spark.createDataFrame(rows, ["id", "uid"])
    df.repartitionByRange(8, "uid").sortWithinPartitions("uid").write.parquet(path)
    got = topk_stats_pruned(spark, path, "uid", k=7).collect()
    want = (
        spark.read.parquet(path)
        .orderBy(F.desc_nulls_last("uid"))
        .limit(7)
        .collect()
    )
    assert [r["uid"] for r in got] == [r["uid"] for r in want]
    asc = topk_stats_pruned(spark, path, "uid", k=7, descending=False).collect()
    want_a = (
        spark.read.parquet(path).orderBy(F.asc_nulls_last("uid")).limit(7).collect()
    )
    assert [r["uid"] for r in asc] == [r["uid"] for r in want_a]


def test_collection_string_sort_prunes_and_matches(spark, tmp_path, monkeypatch):
    """The Collection default sort+limit plan now prunes on STRING primary
    sort keys too — page parity with the plain plan, threshold pushed."""
    from linkml_store_spark.client import Client

    # pins the SPARK-path pruned top-k: the local tier answers
    # footer-small stores without it
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/strsort")
    coll = db.create_collection("users", identifier_attribute="id")
    rows = [(i, f"u{i % 97:03d}_{i}") for i in range(5000)]
    coll.insert(spark.createDataFrame(rows, ["id", "handle"]))
    res = coll.find(sort_by=["-handle"], limit=9)
    plain = coll.df.orderBy(F.desc_nulls_last("handle")).limit(9).collect()
    assert [r["handle"] for r in res.rows] == [r["handle"] for r in plain]
    # the store version now holds the key's string zone records
    zones = coll._version.memos[("zones", "handle")]
    assert all(z.ascii for _fp, zs in zones for z in zs)
