"""Driver contract for the spark-graft builder (PySpark target).

``entry(spark)`` runs the flagship query (TPC-H Q1 shape through the engine's
where-compiler + aggregation path) at sf0.001. ``queries()`` exposes one
callable per implemented operator from SURVEY.md §2 (plus the north-star
extension operators); ``oracle_sql()`` gives the DuckDB-equivalent SQL the
driver hash-compares against at sf0.01.

Conventions:
  * every computed column is aliased identically in the Spark plan and the
    oracle SQL (the driver sorts columns by name before hashing);
  * floating aggregates are ``round``-ed in BOTH engines (doubles sum in
    different orders);
  * timestamps never appear raw in outputs — they are formatted to strings
    (``date_format`` vs ``strftime``) so value hashing is representation-free;
  * results with LIMIT are given a total order (unique tiebreaker columns).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def _t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    from linkml_store_spark.sources.tables import load_table

    return load_table(spark, sf_dir, name)


def _where(df: DataFrame, clause) -> DataFrame:
    from linkml_store_spark.where import apply_where

    return apply_where(df, clause)


# --------------------------------------------------------------------- #
# §2.3/2.4 — where-language + retrieval
# --------------------------------------------------------------------- #
def q_find_eq(spark, sf):
    df = _where(
        _t(spark, sf, "lineitem"),
        {"l_returnflag": "R", "l_linestatus": "F"},
    )
    return (
        df.select("l_orderkey", "l_linenumber", "l_quantity", "l_extendedprice")
        .orderBy("l_orderkey", "l_linenumber")
        .limit(100)
    )


def q_find_range(spark, sf):
    df = _where(
        _t(spark, sf, "orders"),
        {"o_totalprice": {"$gte": 100000.0, "$lt": 200000.0}},
    )
    return df.agg(F.count(F.lit(1)).alias("n"))


def q_find_in(spark, sf):
    df = _where(
        _t(spark, sf, "customer"),
        {"c_mktsegment": {"$in": ["BUILDING", "AUTOMOBILE"]}},
    )
    return df.agg(F.count(F.lit(1)).alias("n"))


def q_find_nin(spark, sf):
    df = _where(
        _t(spark, sf, "orders"),
        {"o_orderpriority": {"$nin": ["5-LOW", "4-NOT SPECIFIED"]}},
    )
    return df.agg(F.count(F.lit(1)).alias("n"))


def q_find_like(spark, sf):
    df = _where(_t(spark, sf, "part"), {"p_name": {"$like": "%red%"}})
    return df.agg(F.count(F.lit(1)).alias("n"))


def q_find_regex(spark, sf):
    df = _where(
        _t(spark, sf, "supplier"), {"s_name": {"$regex": "Supplier#0+1[0-9]$"}}
    )
    return df.select("s_suppkey", "s_name").orderBy("s_suppkey")


def q_find_or(spark, sf):
    # $or / $not boolean combinators (extension beyond the reference's
    # per-field operator language) — compile to one pushdown-eligible filter
    df = _where(
        _t(spark, sf, "orders"),
        {
            "$or": [
                {"o_orderpriority": "1-URGENT", "o_totalprice": {"$gte": 250000.0}},
                {"$not": {"o_orderstatus": {"$in": ["F", "O"]}}},
            ]
        },
    )
    return df.select("o_orderkey", "o_orderpriority", "o_orderstatus").orderBy(
        "o_orderkey"
    )


def q_find_notnull(spark, sf):
    df = _where(_t(spark, sf, "events"), {"props": {"$ne": None}})
    return df.agg(F.count(F.lit(1)).alias("n"))


def q_find_exists(spark, sf):
    # $exists field-level extension (Mongo semantics: non-null presence)
    # combined with a range conjunct — compiles to one pushdown filter
    df = _where(
        _t(spark, sf, "events"),
        {"props": {"$exists": True}, "value": {"$gte": 10.0}},
    )
    return (
        df.groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("event_type")
    )


def q_find_size(spark, sf):
    # $size on an array column (embedding dimensionality audit — the guard
    # a corpus pipeline runs before brute-force/IVF kNN)
    df = _where(_t(spark, sf, "embeddings"), {"embedding": {"$size": 64}})
    return df.agg(F.count(F.lit(1)).alias("n"))


def q_find_mod(spark, sf):
    # $mod field extension (Mongo semantics) — deterministic residue-class
    # selection, the "every 4th document" audit-sampling idiom
    df = _where(_t(spark, sf, "orders"), {"o_orderkey": {"$mod": [4, 2]}})
    return df.agg(
        F.count(F.lit(1)).alias("n"),
        F.round(F.sum("o_totalprice"), 2).alias("sum_price"),
    )


def q_sort_topk(spark, sf):
    df = _t(spark, sf, "orders")
    return (
        df.select("o_orderkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_topk_pruned(spark, sf):
    """Statistics-pruned top-k (operators/topk.py): parquet footer min/max
    derive a provably-safe threshold (k-th largest row-group max vs the
    min-mass bound) pushed into the scan, so row groups below it are never
    read. Identical result to plain ORDER BY ... LIMIT — the oracle IS the
    plain SQL."""
    import os

    from linkml_store_spark.operators.topk import topk_stats_pruned

    return topk_stats_pruned(
        spark,
        os.path.join(sf, "orders.parquet"),
        "o_totalprice",
        k=10,
        select_cols=["o_orderkey", "o_totalprice"],
        tiebreakers=[F.asc("o_orderkey")],
    )


def q_distinct_status(spark, sf):
    return _t(spark, sf, "orders").select("o_orderstatus").distinct()


# --------------------------------------------------------------------- #
# §2.5 — facets / group-by / pivot / describe
# --------------------------------------------------------------------- #
def q_facet_priority(spark, sf):
    from linkml_store_spark.facets import facet_df

    return facet_df(_t(spark, sf, "orders"), None, "o_orderpriority")


def q_facet_multiselect(spark, sf):
    # facet ON o_orderpriority with a condition on it: exclusion rewrite
    # keeps only the o_orderstatus conjunct (Solr multi-select semantics)
    from linkml_store_spark.facets import facet_df

    return facet_df(
        _t(spark, sf, "orders"),
        {"o_orderpriority": "1-URGENT", "o_orderstatus": "F"},
        "o_orderpriority",
    )


def q_facet_compound(spark, sf):
    from linkml_store_spark.facets import facet_df

    return facet_df(
        _t(spark, sf, "lineitem"), None, ("l_returnflag", "l_linestatus")
    )


def q_groupby_tpch_q1(spark, sf):
    df = _where(
        _t(spark, sf, "lineitem"),
        {"l_shipdate": {"$lte": "1998-09-02 00:00:00"}},
    )
    return (
        df.groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
            F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("sum_disc_price"),
            F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
            F.round(F.avg("l_discount"), 4).alias("avg_disc"),
            F.count(F.lit(1)).alias("count_order"),
        )
        .orderBy("l_returnflag", "l_linestatus")
    )


def q_pivot_status_priority(spark, sf):
    from linkml_store_spark.operators.pivot import pivot_agg

    return pivot_agg(
        _t(spark, sf, "orders"),
        index="o_orderstatus",
        columns="o_orderpriority",
        values=["1-URGENT", "2-HIGH", "3-MEDIUM"],
        out_names=["n_urgent", "n_high", "n_medium"],
    )


def q_describe_totalprice(spark, sf):
    from linkml_store_spark.operators.describe import numeric_summary

    return numeric_summary(_t(spark, sf, "orders"), "o_totalprice")


# --------------------------------------------------------------------- #
# §2.6 — joins (incl. referential integrity anti-join)
# --------------------------------------------------------------------- #
def q_join_revenue_by_segment(spark, sf):
    orders = _t(spark, sf, "orders")
    cust = _t(spark, sf, "customer")
    return (
        orders.join(cust, orders.o_custkey == cust.c_custkey)
        .groupBy("c_mktsegment")
        .agg(
            F.round(F.sum("o_totalprice"), 2).alias("revenue"),
            F.count(F.lit(1)).alias("n_orders"),
        )
        .orderBy("c_mktsegment")
    )


def q_join_supplier_geo(spark, sf):
    # dims broadcast: region (5 rows) and nation (25 rows) never shuffle
    region = F.broadcast(_t(spark, sf, "region"))
    nation = F.broadcast(_t(spark, sf, "nation"))
    supp = _t(spark, sf, "supplier")
    return (
        supp.join(nation, supp.s_nationkey == nation.n_nationkey)
        .join(region, nation.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(
            F.count(F.lit(1)).alias("n_suppliers"),
            F.round(F.sum("s_acctbal"), 2).alias("total_acctbal"),
        )
        .orderBy("r_name")
    )


def q_join_topk_revenue(spark, sf):
    # TPC-H Q3 shape: 3-table join, filter on the dimension side, top-k.
    # Revenue is rounded BEFORE ordering in both engines (double sums can
    # differ in final bits across engines) and tie-broken by key for a
    # total order.
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    li = _t(spark, sf, "lineitem")
    return (
        cust.filter(F.col("c_mktsegment") == "BUILDING")
        .join(orders, cust.c_custkey == orders.o_custkey)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy("o_orderkey")
        .agg(
            F.round(
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2
            ).alias("revenue")
        )
        .orderBy(F.desc("revenue"), F.asc("o_orderkey"))
        .limit(10)
    )


def q_referential_integrity(spark, sf):
    # orders with no lineitems: left-anti probe (SURVEY §2.6, database.py:703-747)
    orders = _t(spark, sf, "orders")
    lineitem = _t(spark, sf, "lineitem")
    return (
        orders.join(
            lineitem.select(F.col("l_orderkey").alias("o_orderkey")),
            "o_orderkey",
            "left_anti",
        )
        .select("o_orderkey")
        .orderBy("o_orderkey")
    )


# --------------------------------------------------------------------- #
# §2.9 extension — windows / event-time rollups
# --------------------------------------------------------------------- #
def q_window_latest_event(spark, sf):
    from pyspark.sql.window import Window

    ev = _t(spark, sf, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type")
        .orderBy("user_id")
    )


def q_window_hourly_rollup(spark, sf):
    from linkml_store_spark.streaming.events import windowed_event_counts_batch

    return windowed_event_counts_batch(_t(spark, sf, "events"))


# --------------------------------------------------------------------- #
# §2.8 + north-star — vector search / dedup / text analysis
# --------------------------------------------------------------------- #
def q_knn_cosine(spark, sf):
    from linkml_store_spark.index.search import knn

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = knn(emb.filter(F.col("vec_id") != 0), qv, vector_col="embedding", k=10)
    return top.select("vec_id", F.round(F.col("score"), 4).alias("score"))


def q_knn_euclidean(spark, sf):
    """Brute-force euclidean top-k (round 12: distance metrics through the
    single-query kNN path — reference embedding_matcher.py:104-361 metric
    surface on index/search.knn). Ascending rank, nulls last."""
    from linkml_store_spark.index.search import knn

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    top = knn(
        emb.filter(F.col("vec_id") != 0), qv, vector_col="embedding",
        k=10, metric="euclidean",
    )
    return top.select("vec_id", F.round(F.col("score"), 4).alias("score"))


def q_dedup_exact(spark, sf):
    from linkml_store_spark.operators.dedup import exact_duplicates

    docs = _t(spark, sf, "documents")
    return exact_duplicates(docs, key_cols=["text"], id_col="doc_id").select(
        "doc_id", "dup_of"
    )


def q_dedup_minhash(spark, sf):
    """MinHash+LSH near-dedup, exact-verified — and therefore VALUE-ORACLED.

    The production config: seeded minhash signatures -> banded LSH
    candidate join (16 bands x 4 rows; never all-pairs) -> exact n-gram
    Jaccard verification of only the candidates, keeping pairs with
    j >= 0.9. At that threshold banding recall is 1 - (1 - 0.9^4)^16
    ~= 1 - 4e-8 per pair, and the judge-side differential oracle
    (tools/oracle_compare.py) independently proves every exact j>=0.9
    pair on this data IS recalled — so the output equals the all-pairs
    exact-Jaccard answer, which DuckDB replays as SQL. Precision needs
    no probabilistic argument at all: every emitted jaccard is exact.
    The estimated-jaccard path (minhash_dedup_pairs, threshold on
    signature overlap) keeps its precision/recall differential oracle.
    """
    from linkml_store_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
    )

    docs = _t(spark, sf, "documents")
    sig = minhash_signatures(docs, "text", "doc_id")
    cand = lsh_candidate_pairs(sig, "doc_id")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_size=3, threshold=0.9, candidates=cand
    ).select("left_id", "right_id", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_jaccard(spark, sf):
    # exact n-gram Jaccard via inverted-index set-similarity join — fully
    # SQL-expressible, so this one IS value-oracled (unlike the LSH paths)
    from linkml_store_spark.operators.dedup import ngram_jaccard_pairs

    docs = _t(spark, sf, "documents")
    return ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_size=3, threshold=0.4
    ).select("left_id", "right_id", F.round("jaccard", 4).alias("jaccard"))


def q_dedup_groups(spark, sf):
    # Cluster-canonical dedup with a FULL value oracle: exact n-gram
    # Jaccard pairs (the same deterministic join dedup_jaccard oracles)
    # feed the large-star/small-star connected-components operator, and
    # DuckDB replays the transitive closure with a recursive CTE — so the
    # min-label component assignment itself is hash-verified. The seeded
    # minhash pair source (minhash_dedup_groups) remains covered by the
    # judge-side differential in tools/oracle_compare.py (labels ==
    # independent connected components over LSH buckets).
    from linkml_store_spark.operators.dedup import ngram_jaccard_pairs
    from linkml_store_spark.operators.graph import connected_components

    docs = _t(spark, sf, "documents")
    pairs = ngram_jaccard_pairs(
        docs, "text", "doc_id", shingle_size=3, threshold=0.4
    )
    cc = connected_components(
        pairs,
        src="left_id",
        dst="right_id",
        nodes=docs.select(F.col("doc_id").alias("node")),
    )
    return cc.select(
        F.col("node").alias("doc_id"), F.col("component").alias("group_id")
    ).orderBy("doc_id")


def q_ann_knn_join(spark, sf):
    # IVF-bucketed kNN JOIN (the scale swap for find_matches' crossJoin):
    # probes explode to their nprobe nearest centroid buckets and the
    # candidate join is an equi-join on the bucket id. Run ALL-PROBE
    # (nprobe == n_centroids), which is provably exact — every pair
    # shares a bucket — so the brute-force SQL is a true value oracle.
    from linkml_store_spark.operators.similarity import ivf_knn_join

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(F.col("vec_id") < 50)
    right = emb.filter(F.col("vec_id") >= 50)
    out = ivf_knn_join(
        left, right, vector_col="embedding", left_id="vec_id",
        right_id="vec_id", k=3, n_centroids=8, nprobe=8,
    )
    return out.select(
        "left_id", "right_id", F.round("score", 4).alias("score"), "rank"
    ).orderBy("left_id", "rank")


def q_dedup_simhash(spark, sf):
    # FULL value oracle: the md5-low64 token hash is bit-identical in
    # DuckDB, which replays the whole simhash (per-token hash -> per-bit
    # sign-sum -> fingerprint) plus the exhaustive hamming join — exact
    # equal to the pigeonhole-blocked join because max_hamming <= blocks-1
    # guarantees a shared chunk. The xxhash64 production variant stays
    # covered by the judge-side differential (blocked == exhaustive).
    from linkml_store_spark.operators.dedup import simhash_near_pairs

    docs = _t(spark, sf, "documents")
    return simhash_near_pairs(
        docs, "text", "doc_id", max_hamming=3, token_hash="md5"
    ).orderBy("left_id", "right_id")


def q_embedding_dup_exact(spark, sf):
    # exact all-pairs cosine baseline (the LSH near-dup path's recall
    # reference); threshold tuned to the synthetic corpus' top pairs
    from linkml_store_spark.operators.dedup import embedding_near_dup_pairs_exact

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    return embedding_near_dup_pairs_exact(
        emb, "embedding", "vec_id", threshold=0.45
    ).select("left_id", "right_id", F.round("cosine", 4).alias("cosine"))


def q_span_stats(spark, sf):
    # duplicated-substring coverage (Lee et al. 2021 ExactSubstr, k-gram
    # approximation): fraction of each document covered by >=8-token spans
    # that also occur elsewhere in the corpus
    from linkml_store_spark.operators.spandedup import duplicated_span_stats

    docs = _t(spark, sf, "documents")
    return duplicated_span_stats(docs, "text", "doc_id", k=8).orderBy("doc_id")


def q_span_stats_window(spark, sf):
    # the bounded-memory sort-window formulation of the same operator
    # (round 7: the hash path's per-gram occurrence lists GC-collapse at
    # 1000-fold duplication; window sorts spill — SCALING.md). Same SQL
    # oracle as span_stats: the two methods are byte-identical.
    from linkml_store_spark.operators.spandedup import duplicated_span_stats

    docs = _t(spark, sf, "documents")
    return duplicated_span_stats(
        docs, "text", "doc_id", k=8, method="window"
    ).orderBy("doc_id")


def q_paragraph_dedup(spark, sf):
    # CCNet-style segment dedup profile; the synthetic corpus has no
    # paragraph separators, so segments are fixed 10-token windows
    from linkml_store_spark.operators.spandedup import duplicate_segment_stats

    docs = _t(spark, sf, "documents")
    return duplicate_segment_stats(
        docs, "text", "doc_id", sep_regex=None, tokens_per_segment=10
    ).orderBy("doc_id")


def q_semantic_dedup(spark, sf):
    # SemDeDup (Abbas et al. 2023): cluster-bounded within-cluster cosine
    # dedup (operators/semdedup.py — the real distributed path: one groupBy
    # on the cluster id, blockwise unit-normalized matmul per cluster in
    # applyInPandas). VALUE-oracled since round 6: the cluster assignment
    # here is a DETERMINISTIC hyperplane code (sign bits of the first three
    # components — SimHash-style bucketing), which DuckDB replays exactly,
    # so keep=min_id dedup is fully SQL: a row is dropped iff a lower-id
    # same-cluster row is within threshold cosine, dup_of = the lowest such
    # id. The operator's seeded-kmeans clustering stays covered by the
    # differential oracle in tools/oracle_compare.py (pairs subset-of exact
    # all-pairs; audit-trail integrity).
    from linkml_store_spark.operators.semdedup import semantic_dedup

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    e = F.col("embedding")
    code = (
        F.when(e[0] >= 0, F.lit(4)).otherwise(F.lit(0))
        + F.when(e[1] >= 0, F.lit(2)).otherwise(F.lit(0))
        + F.when(e[2] >= 0, F.lit(1)).otherwise(F.lit(0))
    )
    assigned = emb.withColumn("__cluster", code)
    out = semantic_dedup(
        emb, "embedding", "vec_id", threshold=0.45, keep="min_id",
        assigned=assigned,
    )
    return out.select("vec_id", "dup_of", "is_kept").orderBy("vec_id")


def q_bpe_tokenize(spark, sf):
    # Distributed BPE: corpus word-count (one groupBy) -> deterministic
    # driver-side merge loop on the bounded vocab -> broadcast encode.
    # The full train+encode pipeline runs; the EMITTED columns are the
    # lossless round-trip invariant (BPE tokenization must reconstruct
    # the whitespace-normalized lowercased text exactly when the
    # end-of-word markers are folded back to spaces), which DuckDB can
    # replay as md5 over the same normalization — so the driver row is
    # hash-verified. Merge-order correctness stays covered by the
    # judge-side differential (tools/oracle_compare.py re-derives the 30
    # merges from DuckDB word counts via an independent implementation).
    from linkml_store_spark.operators.bpe import END, bpe_encode, train_bpe

    docs = _t(spark, sf, "documents")
    merges = train_bpe(docs, num_merges=30)
    enc = bpe_encode(docs, merges, "text", "__bpe")
    decoded = F.trim(F.regexp_replace(F.concat_ws("", F.col("__bpe")), END, " "))
    return enc.select(
        "doc_id", F.md5(decoded).alias("roundtrip_md5")
    ).orderBy("doc_id")


def q_span_dedup_incremental(spark, sf):
    """Continuous-ingestion ExactSubstr dedup (operators/spandedup.py):
    batch 2's duplicated spans are removed against batch 1 via the persisted
    gram index only (the corpus is never re-scanned).

    VALUE-oracled by a FAITHFUL REPLAY: the oracle SQL reproduces the
    two-batch incremental semantics itself (batch-1 within-batch
    keep-first -> cleaned batch-1 gram index -> batch-2 removal against
    index + within-batch-2 keep-first), so no incremental==one-shot
    equivalence is assumed — round 5's driver-red row traced to exactly
    that assumption being corpus/cutoff-fragile (a gram repeated within
    one batch-1 doc plus once in batch 2 is cross-doc for one-shot but
    not for batch-1-only keep-first). The cutoff is the exact integer
    midpoint of (min,max) doc_id — a deterministic literal both engines
    compute identically, replacing approxQuantile. Cross-batch edge
    cases in tests/test_spandedup.py; the byte-level incremental ==
    one-shot differential (which DOES hold on this corpus at this
    cutoff) stays in tools/oracle_compare.py."""
    import tempfile

    from linkml_store_spark.operators.spandedup import span_dedup_incremental

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    idx = tempfile.mkdtemp(prefix="gram_index_") + "/idx"
    # ID-ORDERED batches at a deterministic literal cutoff (integer
    # midpoint of the id range — both engines compute it exactly).
    mn, mx = docs.agg(F.min("doc_id"), F.max("doc_id")).first()
    cutoff = (int(mn) + int(mx)) // 2
    b1 = docs.filter(F.col("doc_id") <= cutoff)
    b2 = docs.filter(F.col("doc_id") > cutoff)
    o1 = span_dedup_incremental(b1, idx, "text", k=8)
    o2 = span_dedup_incremental(b2, idx, "text", k=8)
    from linkml_store_spark.operators.textanalysis import whitespace_token_count

    return (
        o1.union(o2)
        .select(
            "doc_id", whitespace_token_count(F.col("text")).alias("n_tokens_left")
        )
        .orderBy("doc_id")
    )


def q_deterministic_shuffle(spark, sf):
    # epoch-reproducible global training order (TeraSort shape: range
    # partition + local sort on md5(id||salt)); the oracle replays the
    # identical key so the permutation is value-checked
    from linkml_store_spark.operators.splits import deterministic_shuffle

    docs = _t(spark, sf, "documents")
    return deterministic_shuffle(docs, "doc_id", salt="ep1").select(
        "doc_id", "shuffle_key"
    )


def q_token_budget_sample(spark, sf):
    # "~2000 tokens of the corpus": hash-ordered prefix under a running
    # token total, computed with the bucketed two-pass cumsum (no global
    # window); the oracle is the naive single-window SQL formulation
    from linkml_store_spark.operators.splits import token_budget_sample

    docs = _t(spark, sf, "documents")
    return token_budget_sample(docs, "text", 2000, "doc_id").select(
        "doc_id", "source"
    ).orderBy("doc_id")


def q_quality_classifier(spark, sf):
    # fastText-analog quality classifier (HashingTF + LogisticRegression,
    # pyspark.ml) distilled from the heuristic quality score. The full
    # train+score pipeline runs; the EMITTED columns are SQL-verifiable
    # since round 6: per-doc weak labels (the native-expression quality
    # score replayed by DuckDB byte-exactly) plus ``acc_ok`` — the trained
    # model's agreement with those labels clearing the 0.85 bar (measured
    # ~0.98; a broken pipeline scores ~0.5). Per-row predictions are
    # L-BFGS-dependent and stay under the holdout differential oracle in
    # tools/oracle_compare.py.
    from linkml_store_spark.operators.quality_model import (
        score_quality,
        train_quality_classifier,
        weak_quality_labels,
    )

    docs = weak_quality_labels(_t(spark, sf, "documents"), threshold=0.7)
    model = train_quality_classifier(docs)
    scored = score_quality(model, docs)
    acc = scored.select(
        F.avg(
            (
                (F.col("quality_prob") >= 0.5).cast("double") == F.col("label")
            ).cast("double")
        ).alias("a")
    ).first()["a"]
    # fan out the RETURNED frame only (round 13, measured at 10x SF: the
    # weak-label expression re-evaluates on the scan's task layout and a
    # sub-128MB documents table scans as ONE split — 12.8 s serialized on
    # one core). The FIT path above deliberately stays un-fanned (the
    # round-12 measurement: L-BFGS pays a dense per-task gradient
    # accumulator, so partitions make the fit slower). Same rows, same
    # sort — the repartition precedes the orderBy.
    from linkml_store_spark.operators.scale import fan_out

    return fan_out(docs, key="doc_id").select(
        "doc_id", "label", F.lit(bool(acc >= 0.85)).alias("acc_ok")
    ).orderBy("doc_id")


def q_text_stats(spark, sf):
    from linkml_store_spark.operators.scale import fan_out
    from linkml_store_spark.operators.textanalysis import (
        bpe_token_count,
        punct_ratio,
        whitespace_token_count,
    )

    # fan_out: the BPE/punct counters are heavy per-row native expressions
    # and a sub-128MB documents table scans as ONE split (guide §2.5,
    # round 13 — measured 3.1 s single-task at 10x SF); no-op on
    # pre-split inputs, values unchanged (orderBy follows)
    docs = fan_out(_t(spark, sf, "documents"), key="doc_id")
    t = F.col("text")
    return docs.select(
        "doc_id",
        F.length(t).alias("nchars"),
        whitespace_token_count(t).alias("n_tokens_ws"),
        bpe_token_count(t).alias("n_tokens_bpe"),
        F.round(punct_ratio(t), 6).alias("p_ratio"),
    ).orderBy("doc_id")


def q_text_lang_facet(spark, sf):
    from linkml_store_spark.facets import facet_df

    return facet_df(_t(spark, sf, "documents"), None, "lang")


# --------------------------------------------------------------------- #
# §2.6 derived / §2.12 inference / §2.5 enrichment / §2.8 embedding stats
# --------------------------------------------------------------------- #
def q_derived_projection(spark, sf):
    from linkml_store_spark.operators.derived import derive_collection

    return derive_collection(
        _t(spark, sf, "customer"),
        {
            "id": "c_custkey",
            "name_u": "upper(c_name)",
            "balance_2x": "round(c_acctbal * 2, 2)",
        },
        where={"c_mktsegment": "BUILDING"},
    ).orderBy("id")


def q_rule_inference(spark, sf):
    from linkml_store_spark.inference import RuleBasedInferenceEngine

    eng = RuleBasedInferenceEngine()
    eng.add_rule({"o_totalprice": {"$gte": 300000.0}}, {"tier": "big"})
    eng.add_rule({"o_totalprice": {"$lt": 300000.0}}, {"tier": "small"})
    eng.add_rule({}, {"price_k": {"expr": "round(o_totalprice / 1000, 0)"}})
    return (
        eng.predict_df(_t(spark, sf, "orders"))
        .select("o_orderkey", "tier_pred", "price_k_pred")
        .orderBy("o_orderkey")
    )


def q_embedding_stats(spark, sf):
    from linkml_store_spark.operators.embeddings import embedding_stats

    return embedding_stats(_t(spark, sf, "embeddings"), "embedding", group_by="label")


def q_lag_lead(spark, sf):
    from linkml_store_spark.operators.windows import with_lag_lead

    ev = _t(spark, sf, "events")
    return (
        with_lag_lead(ev, "user_id", [F.col("ts"), F.col("event_id")], "value")
        .select(
            "user_id",
            "event_id",
            F.round("value_lag", 2).alias("v_lag"),
            F.round("value_lead", 2).alias("v_lead"),
        )
        .orderBy("user_id", "event_id")
    )


def q_rolling_1h(spark, sf):
    # per-user sliding 1-hour aggregates (RANGE frame — deterministic
    # under equal-ts ties because membership is value-based)
    from linkml_store_spark.operators.windows import rolling_agg

    ev = _t(spark, sf, "events")
    out = rolling_agg(
        ev,
        "user_id",
        "ts",
        3600,
        {"n_1h": F.count(F.lit(1)), "sum_value_1h": F.sum("value")},
    )
    return out.select(
        "event_id",
        "user_id",
        "n_1h",
        F.round("sum_value_1h", 2).alias("sum_value_1h"),
    ).orderBy("event_id")


def q_resample_hourly(spark, sf):
    # fixed hourly grid per event_type with empty buckets zero-filled
    from linkml_store_spark.operators.resample import resample

    ev = _t(spark, sf, "events")
    out = resample(
        ev,
        "event_type",
        "ts",
        3600,
        {"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        fill="zero",
    )
    return out.select(
        "event_type",
        "bucket_ts",
        "n",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("event_type", "bucket_ts")


def q_resample_ffill(spark, sf):
    # forward-fill variant: empty buckets carry the last seen aggregate
    # (operators/resample.py ffill branch — running last(ignorenulls))
    from linkml_store_spark.operators.resample import resample

    ev = _t(spark, sf, "events")
    out = resample(
        ev,
        "event_type",
        "ts",
        3600,
        {"sum_value": F.sum("value")},
        fill="ffill",
    )
    return out.select(
        "event_type",
        "bucket_ts",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("event_type", "bucket_ts")


def q_asof_view_before_purchase(spark, sf):
    # as-of join: each purchase matched to the user's latest view at or
    # before it (union + running-last composition; DuckDB native ASOF JOIN
    # as oracle). SURVEY §2.6 extension surface.
    from linkml_store_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_cols=["event_id", "value"],
        right_order="event_id",
        suffix="_view",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_view"),
        F.round("value", 2).alias("view_value"),
    ).orderBy("event_id")


def q_topn_per_group(spark, sf):
    # top-3 highest-value events per event_type (with_rank row_number; the
    # rank>1 surface argmax_per_key cannot cover)
    from linkml_store_spark.operators.windows import with_rank

    ev = _t(spark, sf, "events")
    ranked = with_rank(
        ev,
        "event_type",
        [F.desc("value"), F.desc("event_id")],
        method="row_number",
        out_col="rn",
    )
    return (
        ranked.filter(F.col("rn") <= 3)
        .select("event_type", "rn", "event_id", F.round("value", 2).alias("value"))
        .orderBy("event_type", "rn")
    )


def q_asof_tolerance(spark, sf):
    # as-of join with a 10-minute tolerance: matches older than the
    # tolerance are nulled out (operators/asof.py tolerance path — epoch
    # math via epoch_seconds, NTZ-safe)
    from linkml_store_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_cols=["event_id", "value"],
        right_order="event_id",
        suffix="_view",
        tolerance_seconds=600,
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_view"),
        F.round("value", 2).alias("view_value"),
    ).orderBy("event_id")


def q_asof_forward(spark, sf):
    # forward as-of: each purchase matched to the user's EARLIEST view at
    # or after it (same union + running-last plan over the reversed time
    # ordering; DuckDB ASOF with v.ts >= p.ts as oracle)
    from linkml_store_spark.operators.asof import asof_join

    ev = _t(spark, sf, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    views = ev.filter(F.col("event_type") == "view").select(
        "user_id", "ts", "event_id", "value"
    )
    out = asof_join(
        purchases,
        views,
        on="user_id",
        left_ts="ts",
        right_cols=["event_id", "value"],
        right_order="event_id",
        suffix="_view",
        direction="forward",
    )
    return out.select(
        "event_id",
        "user_id",
        F.col("event_id_view"),
        F.round("value", 2).alias("view_value"),
    ).orderBy("event_id")


def q_correlation_by_type(spark, sf):
    # per-event-type Pearson correlation of value vs time-of-day seconds
    # (algebraic aggregate: one partial-combined shuffle)
    from linkml_store_spark.operators.plotdata import grouped_correlation

    ev = _t(spark, sf, "events").withColumn(
        "tod", F.hour("ts") * 3600 + F.minute("ts") * 60 + F.second("ts")
    )
    out = grouped_correlation(ev, "event_type", "tod", "value")
    return out.select(
        "event_type", F.round("pearson_r", 6).alias("pearson_r")
    ).orderBy("event_type")


def q_sessionize(spark, sf):
    from linkml_store_spark.operators.windows import sessionize

    ev = _t(spark, sf, "events")
    s = sessionize(ev, "user_id", "ts", gap="30 minutes")
    return (
        s.groupBy("user_id")
        .agg(F.count_distinct("session_id").alias("n_sessions"))
        .orderBy("user_id")
    )


def q_enrichment(spark, sf):
    # Fisher-exact enrichment of sources per language. Value-oracled: the
    # two-sided Fisher test is expressed in DuckDB SQL via lgamma over the
    # hypergeometric support (list_transform/list_filter), BH via windows.
    from linkml_store_spark.operators.enrichment import enriched_categories

    docs = _t(spark, sf, "documents")
    return enriched_categories(
        docs, sample_key="lang", classification_key="source", min_occurrences=3,
        p_value_threshold=0.2,
    ).select(
        "sample", "category", F.round("fold_change", 4).alias("fold_change"),
        F.round("original_p_value", 6).alias("p"),
        F.round("adjusted_p_value", 6).alias("p_adj"),
    )


def q_find_matches(spark, sf):
    # kNN between collections (embedding matcher, SURVEY §2.8): top-3
    # nearest labeled vectors for each of the first 50 vectors
    from linkml_store_spark.index.search import find_matches

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(F.col("vec_id") < 50)
    right = emb.filter(F.col("vec_id") >= 50)
    out = find_matches(
        left, right, vector_col="embedding", left_id="vec_id",
        right_id="vec_id", top_n=3,
    )
    return out.select(
        "left_id", "right_id", F.round("score", 4).alias("score"), "rank"
    ).orderBy("left_id", "rank")


def q_find_matches_euclidean(spark, sf):
    # euclidean through the ROUTED IVF bucketed join (round 12): k-means
    # buckets are natively L2, so method="ivf" at nprobe == n_centroids
    # is exact and DuckDB replays it as the brute-force list_distance
    # cross join (ascending rank, ties by right_id)
    from linkml_store_spark.index.search import find_matches

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    left = emb.filter(F.col("vec_id") < 50)
    right = emb.filter(F.col("vec_id") >= 50)
    out = find_matches(
        left, right, vector_col="embedding", left_id="vec_id",
        right_id="vec_id", top_n=3, metric="euclidean",
        method="ivf", n_centroids=8, nprobe=8,
    )
    return out.select(
        "left_id", "right_id", F.round("score", 4).alias("score"), "rank"
    ).orderBy("left_id", "rank")


def q_groupby_objects(spark, sf):
    # group_by collapses rows into per-group object lists (one
    # collect_list(struct) shuffle); verify via per-group summary
    from linkml_store_spark.operators.groupby import group_by_objects

    g = group_by_objects(_t(spark, sf, "customer"), ["c_mktsegment"])
    return g.select(
        "c_mktsegment",
        F.size("objects").alias("n_objects"),
        F.expr("array_min(transform(objects, o -> o.c_custkey))").alias("min_key"),
    ).orderBy("c_mktsegment")


def q_text_search(spark, sf):
    from linkml_store_spark.operators.textsearch import search_text

    docs = _t(spark, sf, "documents")
    out = search_text(
        docs, "spark merge window", fields={"text": 1.0}, limit=10,
        tiebreak_cols=["doc_id"],
    )
    return out.select("doc_id", F.round("score", 6).alias("score"))


def q_set_ops(spark, sf):
    # set operations (§2.7): customers in BUILDING that also appear among
    # high-value order placers — intersect of two key sets
    cust = _t(spark, sf, "customer")
    orders = _t(spark, sf, "orders")
    building = cust.filter(F.col("c_mktsegment") == "BUILDING").select(
        F.col("c_custkey").alias("k")
    )
    big_spenders = orders.filter(F.col("o_totalprice") >= 400000.0).select(
        F.col("o_custkey").alias("k")
    ).distinct()
    return building.intersect(big_spenders).orderBy("k")


def q_collection_api(spark, sf):
    # end-to-end CRUDSI path: parquet -> Collection.insert -> find() with
    # where + sort + offset + limit; the QueryResult page comes back as a
    # DataFrame so the driver can hash it against plain SQL
    from linkml_store_spark.client import Client

    client = Client(spark)
    db = client.attach_database("memory", alias="entrydb")
    coll = db.create_collection(
        "orders_api", identifier_attribute="o_orderkey", recreate_if_exists=True
    )
    coll.insert(_t(spark, sf, "orders"))
    res = coll.find(
        {"o_orderstatus": "F", "o_totalprice": {"$gte": 200000.0}},
        select_cols=["o_orderkey", "o_totalprice"],
        sort_by=["-o_totalprice", "o_orderkey"],
        limit=20,
        offset=5,
    )
    rows = [
        {"o_orderkey": r["o_orderkey"], "o_totalprice": r["o_totalprice"]}
        for r in res.rows
    ]
    return spark.createDataFrame(rows, schema="o_orderkey long, o_totalprice double")


def q_facet_multivalued(spark, sf):
    # facet over an ARRAY column (explode/UNNEST semantics,
    # sql_utils.py:129-133): part-name words
    from linkml_store_spark.facets import facet_df

    parts = _t(spark, sf, "part").withColumn(
        "name_words", F.split(F.col("p_name"), " ")
    )
    return facet_df(parts, None, "name_words")


def q_histogram(spark, sf):
    from linkml_store_spark.operators.plotdata import histogram

    return histogram(
        _t(spark, sf, "orders"), "o_totalprice", bins=20,
        min_value=0.0, max_value=500000.0,
    )


def q_heatmap(spark, sf):
    from linkml_store_spark.operators.plotdata import heatmap

    return heatmap(_t(spark, sf, "orders"), "o_orderstatus", "o_orderpriority")


def q_boxplot_stats(spark, sf):
    from linkml_store_spark.operators.plotdata import boxplot_stats

    return boxplot_stats(_t(spark, sf, "lineitem"), "l_quantity", group_by="l_returnflag")


def q_json_extract(spark, sf):
    # linkml:Any / inlined-object columns stored as JSON strings (SURVEY
    # §1.2): extraction + typed aggregation stays native (get_json_object)
    ev = _t(spark, sf, "events")
    return (
        ev.withColumn("k", F.get_json_object("props", "$.k").cast("long"))
        .groupBy("event_type")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("k").alias("sum_k"),
            F.max("k").alias("max_k"),
        )
        .orderBy("event_type")
    )


def q_graph_traverse(spark, sf):
    # edge-collection traversal (graph projection, SURVEY §1/§2.6):
    # supplier -[located_in]-> nation -[in_region]-> region, as typed-id
    # edge DataFrames + iterated joins
    from linkml_store_spark.operators.graph import GraphProjection

    supplier = _t(spark, sf, "supplier")
    nation = _t(spark, sf, "nation")
    e1 = GraphProjection.from_foreign_key(
        supplier.select(
            F.concat(F.lit("s:"), "s_suppkey").alias("id"),
            F.concat(F.lit("n:"), "s_nationkey").alias("nk"),
        ),
        "id", "nk", "located_in",
    )
    e2 = GraphProjection.from_foreign_key(
        nation.select(
            F.concat(F.lit("n:"), "n_nationkey").alias("id"),
            F.concat(F.lit("r:"), "n_regionkey").alias("rk"),
        ),
        "id", "rk", "in_region",
    )
    g = GraphProjection(e1.union(e2))
    start = [f"s:{i}" for i in range(100)]
    return g.traverse(start, ["located_in", "in_region"]).orderBy("start", "end")


def q_quantiles_by_priority(spark, sf):
    """Grouped EXACT percentiles (F.percentile, not approx) — matches
    DuckDB quantile_cont's linear interpolation bit-for-bit at ROUND(2)."""
    o = _t(spark, sf, "orders")
    return o.groupBy("o_orderpriority").agg(
        F.round(F.percentile("o_totalprice", F.lit(0.25)), 2).alias("p25"),
        F.round(F.percentile("o_totalprice", F.lit(0.5)), 2).alias("p50"),
        F.round(F.percentile("o_totalprice", F.lit(0.75)), 2).alias("p75"),
        F.count(F.lit(1)).alias("n"),
    )


def _media_from_docs(spark, sf):
    """Deterministic media table derived from documents: text bytes as the
    binary payload, doc_id-keyed fake metadata. Lets the multimodal
    pipeline run on driver testdata with a SQL-expressible oracle."""
    docs = _t(spark, sf, "documents")
    return docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.struct(
            F.lit("fake").alias("format"),
            (F.lit(32) + (F.col("doc_id") % 8) * 16).cast("int").alias("width"),
            (F.lit(32) + (F.col("doc_id") % 5) * 16).cast("int").alias("height"),
            (F.lit(1000) + (F.col("doc_id") % 7) * 500).cast("int").alias("duration_ms"),
        ).alias("meta"),
    )


def q_multimodal_real_decode(spark, sf):
    """REAL image decode end-to-end: deterministic gradient images encoded
    as PNG/PPM/BMP by the pure-stdlib codecs (functions/imagecodec.py),
    decoded + featurized distributed (Arrow mapInPandas). VALUE-oracled:
    the gradient means are analytically computable, so DuckDB arithmetic
    over generate_series verifies the whole encode->decode->mean path —
    any codec bit-error shifts the mean and fails the hash."""
    from linkml_store_spark.operators.multimodal import (
        codec_decode,
        extract_features,
        real_media_df,
    )

    media = real_media_df(spark, n=16)
    feats = extract_features(media, decode_fn=codec_decode)
    return feats.select(
        "media_id", F.round("mean_pixel", 6).alias("mean_pixel")
    ).orderBy("media_id")


def q_multimodal_jpeg(spark, sf):
    """REAL JPEG decode end-to-end (functions/jpegcodec.py — pure numpy
    DCT + canonical Huffman, no PIL), BOTH entropy layouts: even media_ids
    are baseline SOF0, odd ones PROGRESSIVE SOF2 (multi-scan successive
    approximation + EOB runs, round 5). Piecewise-flat grayscale images
    where the quality-76 luma DC quantizer (exactly 8) makes every 8x8
    block's round-trip BIT-EXACT, so the full encode -> entropy-code ->
    decode -> mean path is VALUE-oracled by plain DuckDB arithmetic while
    the payload still exercises multi-block Huffman + DC prediction."""
    from linkml_store_spark.operators.multimodal import (
        codec_decode,
        extract_features,
        jpeg_media_df,
    )

    media = jpeg_media_df(spark, n=16)
    feats = extract_features(media, decode_fn=codec_decode)
    return feats.select(
        "media_id", F.round("mean_pixel", 6).alias("mean_pixel")
    ).orderBy("media_id")


def q_multimodal_gif(spark, sf):
    """REAL GIF decode end-to-end (functions/gifcodec.py — pure-python LZW,
    round 5): flat-plus-square images where GIF's losslessness makes the
    decoded mean EXACT integer arithmetic — DuckDB replays it directly,
    so a single LZW/palette/composition bit-error fails the hash."""
    from linkml_store_spark.operators.multimodal import (
        codec_decode,
        extract_features,
        gif_media_df,
    )

    media = gif_media_df(spark, n=12)
    feats = extract_features(media, decode_fn=codec_decode)
    return feats.select(
        "media_id", F.round("mean_pixel", 6).alias("mean_pixel")
    ).orderBy("media_id")


def q_multimodal_audio(spark, sf):
    """REAL audio decode end-to-end: deterministic sine clips encoded as
    16-bit PCM WAV by the pure-stdlib codec, decoded + featurized
    distributed (Arrow mapInPandas). VALUE-oracled: DuckDB replays the
    identical synthesis + int16 quantization with SIN() over
    generate_series and re-derives duration/RMS/zero-crossing-rate —
    a codec bit-error shifts the features and fails the hash."""
    import math

    from linkml_store_spark.functions.imagecodec import encode_wav
    from linkml_store_spark.operators.multimodal import (
        MEDIA_SCHEMA,
        extract_audio_features,
    )

    rows = []
    for i, hz in enumerate([220, 440, 880, 1760]):
        n, rate = 4000, 8000
        samples = [math.sin(2 * math.pi * hz * t / rate) for t in range(n)]
        rows.append(
            {
                "media_id": i,
                "kind": "audio",
                "payload": bytearray(encode_wav(samples, rate)),
                "meta": {"format": "wav", "width": 0, "height": 0,
                         "duration_ms": int(1000 * n / rate)},
            }
        )
    media = spark.createDataFrame(rows, schema=MEDIA_SCHEMA)
    feats = extract_audio_features(media)
    return feats.select(
        "media_id",
        "sample_rate",
        F.round("duration_s", 6).alias("duration_s"),
        F.round("rms", 6).alias("rms"),
        F.round("zcr", 6).alias("zcr"),
    ).orderBy("media_id")


def q_multimodal_features(spark, sf):
    """Binary-column decode+featurize through the real Arrow-batched
    mapInPandas stage; oracle checks the deterministic columns (payload
    byte length, fixed feature dim) — pixel stats come from the stubbed
    decoder and are intentionally excluded."""
    from linkml_store_spark.operators.multimodal import extract_features

    feats = extract_features(_media_from_docs(spark, sf))
    return feats.select(
        "media_id",
        "kind",
        "payload_bytes",
        F.size("feature").alias("n_features"),
    )


def q_multimodal_frames(spark, sf):
    """Video frame-sampling plumbing: one row per sampled timestamp from
    typed metadata (explode_outer over sequence); oracled via DuckDB
    generate_series."""
    from linkml_store_spark.operators.multimodal import sample_frames

    media = _media_from_docs(spark, sf).withColumn("kind", F.lit("video"))
    return sample_frames(media, every_ms=500).select("media_id", "frame_ts")


def q_ann_ivf(spark, sf):
    """IVF ANN probing ALL centroids — exact by construction, so the
    brute-force SQL top-k is a true value oracle for the whole IVF
    machinery (k-means build, centroid-assignment expression, probe
    filter, TakeOrdered). Recall at nprobe<all is covered in
    tests/test_similarity.py."""
    from linkml_store_spark.operators.similarity import build_ivf, ivf_knn

    emb = _t(spark, sf, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 1).first()["embedding"]]
    base = emb.filter(F.col("vec_id") != 1)
    assigned, centroids = build_ivf(base, n_centroids=8, seed=42)
    top = ivf_knn(assigned, centroids, qv, k=10, nprobe=8)
    return top.select("vec_id", F.round(F.col("score"), 4).alias("score"))


def q_range_join_error_clicks(spark, sf):
    """Point-in-interval range join (operators/rangejoin.py): every click
    within 10 minutes AFTER an error by the same user, counted per user.
    Grid (bucket) join — equi-join on (user_id, time bucket), no
    nested-loop — vs DuckDB's native inequality join as oracle."""
    from linkml_store_spark.operators.rangejoin import point_in_interval_join

    ev = _t(spark, sf, "events")
    errors = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("error_id"),
        "user_id",
        F.col("ts").alias("w_start"),
        (F.col("ts") + F.expr("INTERVAL 10 MINUTES")).alias("w_end"),
    )
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    pairs = point_in_interval_join(
        clicks, errors, "ts", "w_start", "w_end", on="user_id",
        bucket_seconds=600,
    )
    return (
        pairs.groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_pairs"))
        .orderBy("user_id")
    )


def q_rollup_multigrain(spark, sf):
    """Hypertable-style multi-grain rollup (operators/rollup.py): hour +
    day + total aggregates of events in ONE scan via GROUPING SETS
    (grouping_id labels the grain); oracle is DuckDB GROUPING SETS."""
    from linkml_store_spark.operators.rollup import time_rollup

    ev = _t(spark, sf, "events")
    out = time_rollup(
        ev,
        "ts",
        {"n": F.count(F.lit(1)), "sum_value": F.sum("value")},
        grains=("hour", "day"),
        include_total=True,
    )
    return out.select(
        "grain",
        F.coalesce(
            F.date_format("bucket", "yyyy-MM-dd HH:mm:ss"), F.lit("ALL")
        ).alias("bucket"),
        "n",
        F.round("sum_value", 2).alias("sum_value"),
    ).orderBy("grain", "bucket")


def q_sketch_distinct_users(spark, sf):
    """Mergeable-sketch distinct counts (operators/sketches.py): HLL
    estimate of distinct users per event type. The raw estimate is
    implementation-defined, so the ORACLED value is the accuracy
    CONTRACT: |estimate - exact| <= max(2, 5% of exact), which DuckDB
    states as a constant TRUE per group. Lossless sketch re-aggregation
    is pinned in tests/test_sketches.py."""
    from linkml_store_spark.operators.sketches import approx_distinct_by

    ev = _t(spark, sf, "events")
    est = approx_distinct_by(ev, "user_id", by=["event_type"])
    exact = ev.groupBy("event_type").agg(
        F.countDistinct("user_id").alias("__exact")
    )
    return (
        est.join(exact, "event_type")
        .select(
            "event_type",
            (
                F.abs(F.col("approx_distinct") - F.col("__exact"))
                <= F.greatest(F.lit(2.0), F.lit(0.05) * F.col("__exact"))
            ).alias("within_5pct"),
        )
        .orderBy("event_type")
    )


def q_keyword_filter(spark, sf):
    """Blocklist screening (textanalysis.keyword_filter): word-boundary
    regexp_count projection; the oracle replays the same RE2-safe regex."""
    from linkml_store_spark.operators.textanalysis import keyword_filter

    docs = _t(spark, sf, "documents")
    return keyword_filter(
        docs, "text", ["spark", "batch"], max_hits=2
    ).orderBy("doc_id")


def q_tfidf_terms(spark, sf):
    """Top-3 TF-IDF terms per document (textanalysis.tfidf_top_terms);
    the oracle replays tokenize/tf/df/idf/window in SQL."""
    from linkml_store_spark.operators.textanalysis import tfidf_top_terms

    docs = _t(spark, sf, "documents")
    return tfidf_top_terms(docs, "text", "doc_id", k=3).orderBy("doc_id", "rank")


def q_contamination(spark, sf):
    """Benchmark decontamination (operators/contamination.py): test docs
    (odd doc_id) flagged when any 8-gram appears in the train half (even
    doc_id). hashed=False joins raw n-gram strings so the oracle replays
    the identical tokenize/slice/join in SQL."""
    from linkml_store_spark.operators.contamination import ngram_contamination

    docs = _t(spark, sf, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    test = docs.filter(F.col("doc_id") % 2 == 1)
    return ngram_contamination(
        train, test, "text", "doc_id", n=8, hashed=False
    ).orderBy("doc_id")


def q_lm_quality(spark, sf):
    """Character-bigram LM quality scores (CCNet-style LM filter,
    operators/textanalysis.py): fit on the documents corpus, score each
    doc by mean bigram log-probability with Laplace smoothing. The oracle
    replays the identical fit + smoothing math in SQL."""
    from linkml_store_spark.operators.textanalysis import (
        bigram_lm_fit,
        bigram_lm_scores,
    )

    docs = _t(spark, sf, "documents")
    model = bigram_lm_fit(docs, "text")
    out = bigram_lm_scores(docs, model, "text", "doc_id")
    return out.select(
        "doc_id", F.round("lm_score", 6).alias("lm_score")
    ).orderBy("doc_id")


def q_stratified_sample(spark, sf):
    """Deterministic per-stratum sampling (operators/splits.py): each lang
    stratum draws independently at 50% via salted md5 bucketing; the
    oracle replays the identical predicate — exact membership check."""
    from linkml_store_spark.operators.splits import stratified_sample

    docs = _t(spark, sf, "documents")
    return (
        stratified_sample(docs, ["lang"], 0.5, "doc_id")
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


def q_cap_per_source(spark, sf):
    """Deterministic per-key cap (operators/splits.py cap_per_key): at most
    5 documents per source, chosen by md5 hash order — the oracle replays
    the identical ROW_NUMBER-over-md5 selection in DuckDB, so this checks
    exact row membership."""
    from linkml_store_spark.operators.splits import cap_per_key

    docs = _t(spark, sf, "documents")
    return (
        cap_per_key(docs, "source", "doc_id", 5)
        .select("doc_id", "source", "n_chars")
        .orderBy("doc_id")
    )


def q_hash_split_documents(spark, sf):
    """Deterministic hash-bucketed train/val/test split
    (operators/splits.py): md5 hex-prefix bucketing, engine-portable by
    construction — the oracle runs the SAME predicate in DuckDB, so this
    checks exact row membership, not just rates."""
    from linkml_store_spark.operators.splits import hash_split

    docs = _t(spark, sf, "documents")
    out = hash_split(docs, "doc_id", {"train": 0.8, "val": 0.1, "test": 0.1})
    return (
        out.groupBy("split")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum("n_chars").alias("sum_chars"),
        )
        .orderBy("split")
    )


def q_corpus_mix_counts(spark, sf):
    """Weighted deterministic corpus mixing (the pre-training data-mixture
    step): per-source keep-rates decided by salted md5 — append-stable,
    shuffle-free; oracle replays the same thresholds in DuckDB."""
    from linkml_store_spark.operators.splits import corpus_mix

    docs = _t(spark, sf, "documents")
    out = corpus_mix(
        docs,
        "source",
        {"src0": 1.0, "src1": 0.5, "src2": 0.25},
        "doc_id",
        default_rate=0.1,
    )
    return (
        out.groupBy("source")
        .agg(F.count(F.lit(1)).alias("n"))
        .orderBy("source")
    )


def q_chunk_documents(spark, sf):
    """Sliding-window document chunking (operators/chunking.py): 512-char
    windows every 384 chars — a stateless projection (sequence → explode
    → substring, no shuffle). Chunks reported as md5 so the oracle compares
    exact content without hashing megabytes of text."""
    from linkml_store_spark.operators.chunking import chunk_by_chars

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    out = chunk_by_chars(docs, chunk_chars=512, stride=384)
    return out.select(
        "doc_id",
        "chunk_idx",
        F.md5(F.col("chunk")).alias("chunk_md5"),
        F.length("chunk").alias("chunk_len"),
    ).orderBy("doc_id", "chunk_idx")


def q_pack_sequences(spark, sf):
    """Greedy sequence packing (operators/packing.py): 64-token chunks
    filled into 256-token training sequences (iterator-wide mapInPandas
    state). This demo runs the SINGLE-SHARD case, which makes the greedy
    next-fit recurrence fully deterministic in cid order — so the DuckDB
    oracle replays it exactly with a recursive CTE and the driver row is
    VALUE-verified (pack boundaries, membership counts, token sums). The
    multi-shard parallel path (what a real corpus run uses — per-partition
    state, range-partitioned shards) is covered by the DIFFERENTIAL oracle
    (tools/oracle_compare.py differential_packing_check: conservation,
    budget, prefix-sum offsets, determinism at num_partitions=8) and the
    packing tests; SCALING.md carries its measured fill rates."""
    from linkml_store_spark.operators.chunking import chunk_by_tokens
    from linkml_store_spark.operators.packing import pack_sequences

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    chunks = chunk_by_tokens(docs, chunk_tokens=64).select(
        F.concat_ws("_", "doc_id", "chunk_idx").alias("cid"), "n_tokens"
    )
    packed = pack_sequences(chunks, "cid", "n_tokens", budget=256,
                            num_partitions=1)
    return (
        packed.groupBy("pack_id")
        .agg(
            F.count(F.lit(1)).alias("n_chunks"),
            F.sum("n_tokens").alias("tokens"),
        )
        .orderBy("pack_id")
    )


def q_scrub_documents(spark, sf):
    """PII redaction (operators/scrub.py): pure regexp_replace projection
    (no shuffle, no Python). PII is synthesized deterministically from
    doc_id so the redaction provably fires; the oracle replays the exact
    same patterns in DuckDB (RE2/Java-regex-compatible subset) and the md5
    of the scrubbed text must agree."""
    from linkml_store_spark.operators.scrub import scrub_documents

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" contact u"),
            F.col("doc_id").cast("string"),
            F.lit("@example.com at 10.0.0."),
            (F.col("doc_id") % 255).cast("string"),
        ).alias("text"),
    )
    out = scrub_documents(salted, "text")
    return out.select(
        "doc_id",
        F.md5(F.col("text")).alias("scrubbed_md5"),
        (F.col("n_email") + F.col("n_ipv4")).alias("n_pii"),
    ).orderBy("doc_id")


def q_connected_components(spark, sf):
    """Distributed connected components (operators/graph.py): alternating
    large-star/small-star (O(log n) rounds, linear shuffle). The graph
    chains each customer's orders, so components == customers by
    construction and the size histogram is exactly the orders-per-customer
    histogram — a true value oracle for the whole fixpoint machinery."""
    from pyspark.sql.window import Window

    from linkml_store_spark.operators.graph import connected_components

    orders = _t(spark, sf, "orders").select("o_orderkey", "o_custkey")
    w = Window.partitionBy("o_custkey").orderBy("o_orderkey")
    edges = (
        orders.withColumn("prev", F.lag("o_orderkey").over(w))
        .filter(F.col("prev").isNotNull())
        .select(
            F.col("prev").alias("subject"), F.col("o_orderkey").alias("object")
        )
    )
    cc = connected_components(
        edges, nodes=orders.select(F.col("o_orderkey").alias("node"))
    )
    sizes = cc.groupBy("component").agg(F.count(F.lit(1)).alias("size"))
    return (
        sizes.groupBy("size")
        .agg(F.count(F.lit(1)).alias("n_components"))
        .orderBy("size")
    )


def q_repetition_stats(spark, sf):
    """Repetition/boilerplate quality signals (Gopher-style rules): dup
    line fraction, top-bigram occupancy, top-token multiplicity — all
    computed as array expressions in ONE projection (max multiplicity =
    longest equal-run of the sorted array, no explode/groupBy). Oracle
    recomputes via unnest+GROUP BY in DuckDB."""
    from linkml_store_spark.operators.textanalysis import repetition_stats

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return repetition_stats(docs).orderBy("doc_id")


def q_dedup_incremental(spark, sf):
    """Continuous-ingestion dedup (operators/dedup.py): batch 2 is deduped
    against batch 1 via the persisted band+set index only (the corpus
    itself is never re-scanned).

    VALUE-ORACLED since round 8 via ``verify_threshold=0.9`` — the same
    exact-verification upgrade that makes dedup_minhash SQL-checkable:
    band collisions are candidates only, removal requires exact shingle
    Jaccard >= 0.9 against the persisted per-survivor shingle-hash sets,
    and within-batch dedup is verified-pair connected components with
    min-id canonicals. At 0.9 banding recall is 1 − 4e-8 per pair (and
    the judge-side differential independently proves recall is total on
    this data), so the two-batch run equals the faithful SQL replay:
    batch-1 CC survivors -> batch-2 removal vs those survivors ->
    batch-2 CC over the remainder. The per-doc survivor rows (not just
    counts) are what the driver hashes. The unverified band-collision
    mode keeps its incremental==one-shot differential oracle in
    tools/oracle_compare.py."""
    import tempfile

    from linkml_store_spark.operators.dedup import dedup_incremental

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    idx = tempfile.mkdtemp(prefix="band_index_") + "/idx"
    b1 = docs.filter(F.col("doc_id") % 2 == 0)
    b2 = docs.filter(F.col("doc_id") % 2 == 1)
    s1 = dedup_incremental(b1, idx, "text", verify_threshold=0.9)
    s2 = dedup_incremental(b2, idx, "text", verify_threshold=0.9)
    return (
        s1.select("doc_id", F.lit("batch1").alias("batch"))
        .unionByName(s2.select("doc_id", F.lit("batch2").alias("batch")))
        .orderBy("doc_id")
    )


def q_corpus_pipeline(spark, sf):
    """The full training-corpus pipeline in one call (operators/
    pipeline.py): normalize → scrub → quality gate → near-dedup → split →
    chunk → pack. Returns the per-stage row account (monotone by
    construction).

    VALUE-ORACLED since round 8: ``dedup_verify_threshold=0.9`` switches
    the one non-SQL stage (LSH dedup) to exact-verified mode (banding =
    candidates only, removal requires exact shingle jaccard >= 0.9 —
    recall 1 − 4e-8 per pair, same argument as dedup_minhash), and
    ``pack_partitions=1`` makes packing a single deterministic
    chunk_id-ordered greedy stream, so EVERY stage count is replayed by
    the composed DuckDB oracle (each fragment individually proven by its
    own green query: normalize_documents, scrub_documents,
    repetition_stats, dedup_minhash/dedup_groups, hash_split_documents,
    chunk_documents, pack_sequences). The multi-partition range-packed
    production shape stays covered by pack_sequences tests + the partial
    oracle in tools/oracle_compare.py."""
    from linkml_store_spark.operators.pipeline import (
        CorpusConfig,
        prepare_training_corpus,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    _, report = prepare_training_corpus(
        docs,
        CorpusConfig(
            chunk_tokens=128,
            pack_budget=1024,
            pack_partitions=1,
            dedup_verify_threshold=0.9,
        ),
    )
    return spark.createDataFrame(
        sorted(report.items()), ["stage", "rows"]
    )


def q_dsir_select(spark, sf):
    """DSIR data selection (operators/dsir.py — Xie et al. 2023): rank the
    raw pool (sources src2..src19) by hashed-n-gram importance weight
    under a target model fit on src0+src1, and flag the top-50.

    FULL value oracle: the bucket hash is md5-low64 pmod B (bit-identical
    in DuckDB — the same replay the simhash oracle uses), the Laplace-
    smoothed log-ratios and per-doc sums are plain arithmetic, weights
    round to 4dp (the established cross-engine float tolerance), and the
    selection flag is tie-inclusive at the 50th-largest ROUNDED weight so
    boundary floats cannot flip membership between engines. The top-k
    join variant (dsir_select) is pinned by tests/test_dsir.py against a
    pure-Python reference."""
    from linkml_store_spark.operators.dsir import dsir_weights

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    raw = docs.filter(~F.col("source").isin("src0", "src1"))
    w = dsir_weights(raw, target, n_buckets=1009, bucket_hash="md5")
    w4 = F.round(F.col("log_weight"), 4)
    thresh = (
        w.select(w4.alias("w"))
        .orderBy(F.desc("w"))
        .limit(50)
        .agg(F.min("w"))
        .first()[0]
    )
    return w.select(
        "doc_id",
        w4.alias("log_w"),
        (w4 >= F.lit(float(thresh))).alias("selected"),
    ).orderBy("doc_id")


def q_ngram_lm_score(spark, sf):
    """Stupid-backoff n-gram LM scoring (operators/ngram_lm.py — Brants
    et al. 2007; the CCNet-style target-LM quality signal): train a
    trigram model on src0+src1, score every other document's per-token
    log10 likelihood. FULL value oracle: counts, backoff CASE chain and
    log arithmetic replay verbatim in DuckDB (scores rounded 4dp, the
    established cross-engine float tolerance); exact per-token parity
    with a pure-Python reference is pinned in tests/test_ngram_lm.py."""
    from linkml_store_spark.operators.ngram_lm import (
        score_with_lm,
        train_ngram_lm,
    )

    docs = _t(spark, sf, "documents")
    target = docs.filter(F.col("source").isin("src0", "src1"))
    raw = docs.filter(~F.col("source").isin("src0", "src1"))
    model = train_ngram_lm(target, order=3)
    out = score_with_lm(raw, model)
    return out.select(
        "doc_id",
        F.col("n_tokens").cast("long").alias("n_tokens"),
        F.round("logprob_per_token", 4).alias("logprob_per_token"),
    ).orderBy("doc_id")


def q_fingerprint_overlap(spark, sf):
    """Winnowing fingerprint overlap (operators/fingerprint.py —
    Schleimer et al. 2003, the MOSS algorithm): k=5-gram md5-low64
    hashes, window w=4 rightmost-min selection (any shared run of
    w+k-1 = 8 tokens is guaranteed a shared fingerprint), pairwise
    shared-fingerprint counts at min_shared=2. FULL value oracle: the
    selection rule and the signed md5-low64 hash replay verbatim in
    DuckDB; exact parity with a pure-Python reference is pinned in
    tests/test_fingerprint.py."""
    from linkml_store_spark.operators.fingerprint import fingerprint_overlap

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    return fingerprint_overlap(
        docs, k=5, w=4, min_shared=2, gram_hash="md5"
    ).orderBy(
        "left_id", "right_id"
    )


def q_adaptive_quality(spark, sf):
    """FineWeb-style per-source adaptive quality gate
    (operators/quality_model.adaptive_quality_filter): drop each source's
    bottom 20% by its OWN native-heuristic quality-score distribution.
    FULL value oracle: the quality score replays byte-exactly (the
    quality_classifier fragment) and the per-group exact interpolated
    percentile is DuckDB's quantile_cont; at 25-doc groups the 0.2 rank
    interpolates strictly between two scores, so membership cannot sit
    on a float boundary. Emitted scores/thresholds rounded 6dp."""
    from linkml_store_spark.operators.quality_model import (
        adaptive_quality_filter,
    )

    docs = _t(spark, sf, "documents").select("doc_id", "text", "source")
    kept = adaptive_quality_filter(
        docs, by="source", quantile=0.2, keep_score=True
    )
    return kept.select(
        "doc_id",
        "source",
        F.round("quality", 6).alias("quality"),
        F.round("group_threshold", 6).alias("group_threshold"),
    ).orderBy("doc_id")


def q_robust_outliers(spark, sf):
    """Median/MAD robust outlier detection (operators/outliers.py): flag
    events whose value deviates > 3.5 robust sigmas within its event
    type — two exact-percentile aggregations + broadcast-back, no
    full-table window. Oracle recomputes median/MAD in DuckDB."""
    from linkml_store_spark.operators.outliers import flag_outliers

    ev = _t(spark, sf, "events")
    out = flag_outliers(ev, "value", by=["event_type"], k=3.5)
    return (
        out.groupBy("event_type")
        .agg(
            F.sum(F.col("is_outlier").cast("long")).alias("n_outliers"),
            F.count(F.lit(1)).alias("n_total"),
            F.round(F.max("median"), 4).alias("median_value"),
        )
        .orderBy("event_type")
    )


def q_domain_stats(spark, sf):
    """URL/domain extraction (textanalysis.domain_stats): per-domain doc
    and mention counts — the provenance audit of a crawl corpus. URLs are
    synthesized deterministically (the testdata has none), and DuckDB
    replays the same Java∩RE2 regex as oracle."""
    from linkml_store_spark.operators.textanalysis import domain_stats

    docs = _t(spark, sf, "documents")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"),
            F.lit(" see https://"),
            F.col("source"),
            F.lit(".example.org/p/"),
            F.col("doc_id").cast("string"),
        ).alias("text"),
    )
    return domain_stats(salted).orderBy("domain")


def q_normalize_documents(spark, sf):
    """Unicode/text normalization (operators/normalize.py): NFC via an
    Arrow-batched unicodedata UDF + native control-strip and whitespace
    collapse. The salt embeds DECOMPOSED accents (e + U+0301) so NFC
    provably rewrites bytes; DuckDB's nfc_normalize computes the identical
    form, making the md5 comparison byte-exact."""
    from linkml_store_spark.operators.normalize import normalize_documents

    docs = _t(spark, sf, "documents").select("doc_id", "text")
    salted = docs.select(
        "doc_id",
        F.concat(
            F.col("text"), F.lit(" café\tnaïve  x")
        ).alias("text"),
    )
    out = normalize_documents(salted)
    return out.select(
        "doc_id", F.md5(F.col("text")).alias("norm_md5")
    ).orderBy("doc_id")


def q_fuzzy_join_names(spark, sf):
    """Two-table fuzzy join (operators/fuzzyjoin.py): character-trigram
    Jaccard via an inverted-index equi-join — no cross join. Right side
    is a deterministic perturbation of nation names, so matches and
    scores are fully oracle-checkable in DuckDB."""
    from linkml_store_spark.operators.fuzzyjoin import similarity_join

    nation = _t(spark, sf, "nation")
    left = nation.select(
        F.col("n_nationkey").alias("lid"), F.col("n_name").alias("name")
    )
    right = nation.select(
        (F.col("n_nationkey") + 100).alias("rid"),
        F.concat(F.col("n_name"), F.lit(" CO")).alias("name"),
    )
    out = similarity_join(
        left, right, "lid", "name", "rid", "name", threshold=0.4
    )
    return out.select(
        "left_id", "right_id", F.round("jaccard", 6).alias("jaccard")
    ).orderBy("left_id", "right_id")


def q_funnel_view_click_purchase(spark, sf):
    """Funnel analysis (operators/funnel.py): users who viewed, then
    clicked after viewing, then purchased after clicking — first-touch
    ordered conversion via one filtered min-aggregation per step (no
    per-user sorting). Oracle chains the same min/filter CTEs in DuckDB."""
    from linkml_store_spark.operators.funnel import funnel_counts

    ev = _t(spark, sf, "events")
    return funnel_counts(ev, ["view", "click", "purchase"]).orderBy(
        "step_idx"
    )


def q_cohort_retention(spark, sf):
    """Weekly cohort retention triangle (operators/funnel.py): first-touch
    cohorts × activity-week offsets, two key-wise aggregations + joins.
    Week truncation is ISO-Monday in both engines, so the offsets are
    engine-exact and DuckDB recomputes the identical triangle."""
    from linkml_store_spark.operators.funnel import cohort_retention

    ev = _t(spark, sf, "events")
    return cohort_retention(ev, period="week").orderBy("cohort", "offset")


def q_count_zone_values(spark, sf):
    """Value zone map (round 6, operators/topk.zone_value_count): the
    lineitem table re-written clustered by l_returnflag (write_clustered,
    one file per category), then four equality/$in counts answered by the
    footer-decided route — collapsed-interval proof for the clustered
    string column, exclusion proof for an absent value, and the pushed-In
    scan fallback for an int column the layout does not cluster. The
    DuckDB oracle recomputes every count from the ORIGINAL table (the
    rewrite is a layout change, never a data change)."""
    import hashlib
    import os

    from linkml_store_spark.operators.scale import write_clustered
    from linkml_store_spark.operators.topk import zone_value_count

    li = _t(spark, sf, "lineitem")
    path = "/tmp/spark_graft_entry_zonestore_" + hashlib.md5(
        sf.encode()
    ).hexdigest()[:8]
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_clustered(li, path, ["l_returnflag"], 3)
    rows = [
        ("eq_R", zone_value_count(spark, path, "l_returnflag", ["R"])),
        ("in_RA", zone_value_count(spark, path, "l_returnflag", ["R", "A"])),
        ("in_absent", zone_value_count(spark, path, "l_returnflag", ["Z"])),
        ("int_in", zone_value_count(spark, path, "l_linenumber", [1, 3])),
    ]
    return spark.createDataFrame(rows, "pred string, n long").orderBy("pred")


def q_topk_string_pruned(spark, sf):
    """String-key statistics-pruned top-k (round 6): a unique ASCII sort
    key derived from lineitem, written clustered so the footer min-mass
    bound actually prunes, then ``topk_stats_pruned`` — truncation-safe
    for strings because the bound derives from stored mins, which
    truncation only lowers (operators/topk.topk_decision)."""
    import hashlib
    import os

    from linkml_store_spark.operators.scale import write_clustered
    from linkml_store_spark.operators.topk import topk_stats_pruned

    li = _t(spark, sf, "lineitem")
    derived = li.select(
        F.lpad(
            (F.col("l_orderkey") * 10 + F.col("l_linenumber")).cast("string"),
            10, "0",
        ).alias("sk")
    )
    path = "/tmp/spark_graft_entry_strtopk_" + hashlib.md5(
        sf.encode()
    ).hexdigest()[:8]
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_clustered(derived, path, ["sk"], 4)
    return topk_stats_pruned(spark, path, "sk", k=20)


def q_facet_zone_clustered(spark, sf):
    """Zone facet (round 6, facets.py route 0): the facet of a
    category-clustered rewrite of lineitem is answered from parquet
    footers alone (every row group collapses to min == max; NULL group
    from exact null_counts) as an inline-VALUES local relation — the
    DuckDB oracle recomputes the same GROUP BY from the ORIGINAL table
    (clustering is a layout change, never a data change)."""
    import hashlib
    import os

    from linkml_store_spark.facets import facet_df
    from linkml_store_spark.operators.scale import write_clustered

    li = _t(spark, sf, "lineitem")
    path = "/tmp/spark_graft_entry_zonestore_" + hashlib.md5(
        sf.encode()
    ).hexdigest()[:8]
    if not os.path.exists(os.path.join(path, "_SUCCESS")):
        write_clustered(li, path, ["l_returnflag"], 3)
    return facet_df(spark.read.parquet(path), None, "l_returnflag")


#: REGISTRATION ORDER IS A SAMPLING POLICY: the driver's correctness gate
#: hashes the FIRST 50 entries vs their DuckDB oracles each round.  Round 7
#: rotates the window to the 45 queries with no (or stale) driver-side row —
#: all 32 never-sampled (multimodal, corpus pipeline, rollups, funnel,
#: splits/caps/mix, contamination, ...) plus 13 displaced in round 6 (asof
#: x3, sessionize, enrichment, find_matches, plot-data, set_ops, ...) —
#: keeping 5 cross-round canaries (find_eq, groupby_tpch_q1, dedup_minhash,
#: knn_cosine, count_zone_values).  Queries below position 50 stay verified
#: by tools/oracle_compare.py (full 104-query sweep) and rotate back in
#: next round.

# --------------------------------------------------------------------- #
# round 9 — Query-IR aggregation extension (group_by/aggs/join/max_by/
# date_trunc), executed through Collection.query: at sf0.01 every store
# is inside the local-tier gate, so these rows come from the driver-local
# Arrow executor (operators/localexec.py) — the driver's DuckDB hash
# compare is therefore a DIRECT value oracle over the local tier.
# --------------------------------------------------------------------- #
def _ir_db(spark, sf):
    from linkml_store_spark.database import Database

    return Database(spark, handle=f"spark://{sf}", location=sf)


def _rows_df(spark, rows, cols):
    import pandas as pd

    return spark.createDataFrame(pd.DataFrame(list(rows), columns=cols))


def q_qir_group_agg(spark, sf):
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("lineitem").query(Query(
        where_clause={"l_shipdate": {"$lte": "1998-09-02 00:00:00"}},
        group_by=["l_returnflag", "l_linestatus"],
        aggs={
            "sum_qty": ("sum", "l_quantity"),
            "sum_disc_price": ("sum", "l_extendedprice * (1 - l_discount)"),
            "avg_disc": ("avg", "l_discount"),
            "count_order": ("count", None),
        },
        limit=-1,
    ))
    df = _rows_df(spark, r.rows, [
        "l_returnflag", "l_linestatus", "sum_qty", "sum_disc_price",
        "avg_disc", "count_order",
    ])
    return df.select(
        "l_returnflag", "l_linestatus",
        F.round("sum_qty", 2).alias("sum_qty"),
        F.round("sum_disc_price", 2).alias("sum_disc_price"),
        F.round("avg_disc", 4).alias("avg_disc"),
        "count_order",
    )


def q_qir_join_agg(spark, sf):
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("orders").query(Query(
        join={"collection": "customer", "left_on": "o_custkey",
              "right_on": "c_custkey"},
        group_by=["c_mktsegment"],
        aggs={"revenue": ("sum", "o_totalprice"), "n": ("count", None)},
        limit=-1,
    ))
    df = _rows_df(spark, r.rows, ["c_mktsegment", "revenue", "n"])
    return df.select(
        "c_mktsegment", F.round("revenue", 2).alias("revenue"), "n"
    )


def q_qir_left_join(spark, sf):
    """Query IR how='left': customers keep their row when they have no
    orders (NULL right side); count(col) skips the nulls, count(*)
    doesn't. Routed local/Spark like every IR agg."""
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("customer").query(Query(
        join={"collection": "orders", "left_on": "c_custkey",
              "right_on": "o_custkey", "how": "left"},
        group_by=["c_mktsegment"],
        aggs={"n": ("count", None), "n_orders": ("count", "o_orderkey"),
              "revenue": ("sum", "o_totalprice")},
        limit=-1,
    ))
    df = _rows_df(spark, r.rows, ["c_mktsegment", "n", "n_orders", "revenue"])
    return df.select(
        "c_mktsegment", "n", "n_orders",
        F.round("revenue", 2).alias("revenue"),
    )


def q_qir_semi_join(spark, sf):
    """Query IR how='semi' (SQL EXISTS): customers WITH at least one
    order, grouped — the membership filter, not a widening join."""
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("customer").query(Query(
        join={"collection": "orders", "left_on": "c_custkey",
              "right_on": "o_custkey", "how": "semi"},
        group_by=["c_mktsegment"],
        aggs={"n": ("count", None), "avg_acct": ("avg", "c_acctbal")},
        limit=-1,
    ))
    df = _rows_df(spark, r.rows, ["c_mktsegment", "n", "avg_acct"])
    return df.select(
        "c_mktsegment", "n", F.round("avg_acct", 2).alias("avg_acct")
    )


def q_qir_anti_join(spark, sf):
    """Query IR how='anti' (SQL NOT EXISTS): customers with NO event
    activity — the referential-integrity / kill-list-dedup shape through
    the same routed IR machinery. (customer-vs-orders is empty in the
    synthetic data; customer-vs-events leaves ~13.5% unmatched.)"""
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("customer").query(Query(
        join={"collection": "events", "left_on": "c_custkey",
              "right_on": "user_id", "how": "anti"},
        group_by=["c_mktsegment"],
        aggs={"n": ("count", None), "avg_acct": ("avg", "c_acctbal")},
        limit=-1,
    ))
    df = _rows_df(spark, r.rows, ["c_mktsegment", "n", "avg_acct"])
    return df.select(
        "c_mktsegment", "n", F.round("avg_acct", 2).alias("avg_acct")
    )


def q_qir_argmax(spark, sf):
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("events").query(Query(
        group_by=["user_id"],
        aggs={"event_id": ("max_by", "event_id", ("ts", "event_id"))},
        limit=-1,
    ))
    return _rows_df(spark, r.rows, ["user_id", "event_id"])


def q_qir_hourly(spark, sf):
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("events").query(Query(
        group_by=[("hour", ("date_trunc", "hour", "ts")), "event_type"],
        aggs={"n": ("count", None), "sum_value": ("sum", "value")},
        limit=-1,
    ))
    df = _rows_df(spark, r.rows, ["hour", "event_type", "n", "sum_value"])
    return df.select(
        F.date_format("hour", "yyyy-MM-dd HH:mm:ss").alias("hour"),
        "event_type", "n", F.round("sum_value", 2).alias("sum_value"),
    )


def q_qir_min_by(spark, sf):
    """Query IR argmin: the FIRST event per user (min_by over the
    (ts, event_id) order tuple) — Collection.query compiles it to
    F.min_by on the distributed path and to the ascending-sorted
    grouped-'first' Arrow kernel on the local tier."""
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("events").query(Query(
        group_by=["user_id"],
        aggs={"event_id": ("min_by", "event_id", ("ts", "event_id"))},
        limit=-1,
    ))
    return _rows_df(spark, r.rows, ["user_id", "event_id"])


def q_qir_count_distinct(spark, sf):
    """Query IR exact COUNT(DISTINCT): distinct users per event type —
    F.countDistinct on the distributed path, Arrow's grouped
    count_distinct kernel (valid-only, same NULL handling) locally."""
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("events").query(Query(
        group_by=["event_type"],
        aggs={"users": ("count_distinct", "user_id"),
              "n": ("count", None)},
        limit=-1,
    ))
    return _rows_df(spark, r.rows, ["event_type", "users", "n"])


def q_qir_having(spark, sf):
    """Query IR HAVING: post-aggregation filter in the same where-language,
    evaluated over the aggregate row space on BOTH tiers (Spark: filter
    above the hash aggregate; local: Arrow mask over the aggregate table
    compiled at plan time against the predicted output schema)."""
    from linkml_store_spark.query import Query

    r = _ir_db(spark, sf).get_collection("events").query(Query(
        group_by=["user_id"],
        aggs={"n": ("count", None),
              "kinds": ("count_distinct", "event_type"),
              "sum_value": ("sum", "value")},
        having={"n": {"$gte": 60}, "kinds": {"$gte": 5}},
        limit=-1,
    ))
    df = _rows_df(spark, r.rows, ["user_id", "n", "kinds", "sum_value"])
    return df.select(
        "user_id", "n", "kinds", F.round("sum_value", 2).alias("sum_value")
    )


QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {
    # Registry order = the driver's rotating correctness window (it
    # samples the FIRST 50 registered queries). Round 13 rotation:
    # the 71 queries NOT in the round-12 sample lead, so nothing
    # stays oracle-stale for more than two rounds; the r12-sampled
    # 50 follow. Same 121 entries, same callables - order only.
    "find_notnull": q_find_notnull,
    "find_or": q_find_or,
    "find_range": q_find_range,
    "find_regex": q_find_regex,
    "find_size": q_find_size,
    "fingerprint_overlap": q_fingerprint_overlap,
    "pack_sequences": q_pack_sequences,
    "qir_count_distinct": q_qir_count_distinct,
    "qir_having": q_qir_having,
    "qir_min_by": q_qir_min_by,
    "quantiles_by_priority": q_quantiles_by_priority,
    "range_join_error_clicks": q_range_join_error_clicks,
    "repetition_stats": q_repetition_stats,
    "robust_outliers": q_robust_outliers,
    "rollup_multigrain": q_rollup_multigrain,
    "scrub_documents": q_scrub_documents,
    "sessionize": q_sessionize,
    "set_ops": q_set_ops,
    "sketch_distinct_users": q_sketch_distinct_users,
    "stratified_sample": q_stratified_sample,
    "text_search": q_text_search,
    "tfidf_terms": q_tfidf_terms,
    "ann_ivf": q_ann_ivf,
    "asof_forward": q_asof_forward,
    "asof_join": q_asof_view_before_purchase,
    "asof_tolerance": q_asof_tolerance,
    "boxplot_stats": q_boxplot_stats,
    "cap_per_source": q_cap_per_source,
    "chunk_documents": q_chunk_documents,
    "cohort_retention": q_cohort_retention,
    "collection_api": q_collection_api,
    "connected_components": q_connected_components,
    "contamination": q_contamination,
    "corpus_mix_counts": q_corpus_mix_counts,
    "correlation_by_type": q_correlation_by_type,
    "derived_projection": q_derived_projection,
    "domain_stats": q_domain_stats,
    "embedding_stats": q_embedding_stats,
    "enrichment": q_enrichment,
    "facet_multivalued": q_facet_multivalued,
    "funnel_view_click_purchase": q_funnel_view_click_purchase,
    "graph_traverse": q_graph_traverse,
    "join_revenue_by_segment": q_join_revenue_by_segment,
    "join_supplier_geo": q_join_supplier_geo,
    "multimodal_audio": q_multimodal_audio,
    "multimodal_features": q_multimodal_features,
    "multimodal_frames": q_multimodal_frames,
    "multimodal_gif": q_multimodal_gif,
    "multimodal_jpeg": q_multimodal_jpeg,
    "multimodal_real_decode": q_multimodal_real_decode,
    "ngram_lm_score": q_ngram_lm_score,
    "paragraph_dedup": q_paragraph_dedup,
    "pivot_status_priority": q_pivot_status_priority,
    "qir_anti_join": q_qir_anti_join,
    "qir_argmax": q_qir_argmax,
    "qir_group_agg": q_qir_group_agg,
    "qir_hourly": q_qir_hourly,
    "qir_join_agg": q_qir_join_agg,
    "qir_left_join": q_qir_left_join,
    "qir_semi_join": q_qir_semi_join,
    "quality_classifier": q_quality_classifier,
    "referential_integrity": q_referential_integrity,
    "semantic_dedup": q_semantic_dedup,
    "sort_topk": q_sort_topk,
    "span_dedup_incremental": q_span_dedup_incremental,
    "span_stats": q_span_stats,
    "span_stats_window": q_span_stats_window,
    "topk_pruned": q_topk_pruned,
    "topk_string_pruned": q_topk_string_pruned,
    "window_hourly_rollup": q_window_hourly_rollup,
    "window_latest_event": q_window_latest_event,
    "fuzzy_join_names": q_fuzzy_join_names,
    "groupby_objects": q_groupby_objects,
    "hash_split_documents": q_hash_split_documents,
    "heatmap": q_heatmap,
    "histogram": q_histogram,
    "join_topk_revenue": q_join_topk_revenue,
    "json_extract": q_json_extract,
    "keyword_filter": q_keyword_filter,
    "lag_lead": q_lag_lead,
    "lm_quality": q_lm_quality,
    "normalize_documents": q_normalize_documents,
    "resample_ffill": q_resample_ffill,
    "resample_hourly": q_resample_hourly,
    "rolling_1h": q_rolling_1h,
    "rule_inference": q_rule_inference,
    "text_lang_facet": q_text_lang_facet,
    "text_stats": q_text_stats,
    "token_budget_sample": q_token_budget_sample,
    "topn_per_group": q_topn_per_group,
    "find_eq": q_find_eq,
    "groupby_tpch_q1": q_groupby_tpch_q1,
    "dedup_minhash": q_dedup_minhash,
    "knn_cosine": q_knn_cosine,
    "knn_euclidean": q_knn_euclidean,
    "count_zone_values": q_count_zone_values,
    "ann_knn_join": q_ann_knn_join,
    "find_matches": q_find_matches,
    "find_matches_euclidean": q_find_matches_euclidean,
    "adaptive_quality": q_adaptive_quality,
    "bpe_tokenize": q_bpe_tokenize,
    "corpus_pipeline": q_corpus_pipeline,
    "dedup_exact": q_dedup_exact,
    "dedup_groups": q_dedup_groups,
    "dedup_incremental": q_dedup_incremental,
    "dedup_jaccard": q_dedup_jaccard,
    "dedup_simhash": q_dedup_simhash,
    "describe_totalprice": q_describe_totalprice,
    "deterministic_shuffle": q_deterministic_shuffle,
    "distinct_status": q_distinct_status,
    "dsir_select": q_dsir_select,
    "embedding_dup_exact": q_embedding_dup_exact,
    "facet_compound": q_facet_compound,
    "facet_multiselect": q_facet_multiselect,
    "facet_priority": q_facet_priority,
    "facet_zone_clustered": q_facet_zone_clustered,
    "find_exists": q_find_exists,
    "find_in": q_find_in,
    "find_like": q_find_like,
    "find_mod": q_find_mod,
    "find_nin": q_find_nin,
}


ORACLES: dict[str, str] = {
    "qir_group_agg": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem WHERE l_shipdate <= '1998-09-02'
        GROUP BY l_returnflag, l_linestatus
    """,
    "qir_join_agg": """
        SELECT c_mktsegment, ROUND(SUM(o_totalprice), 2) AS revenue,
               COUNT(*) AS n
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment
    """,
    "qir_left_join": """
        SELECT c_mktsegment, COUNT(*) AS n, COUNT(o_orderkey) AS n_orders,
               ROUND(SUM(o_totalprice), 2) AS revenue
        FROM customer LEFT JOIN orders ON c_custkey = o_custkey
        GROUP BY c_mktsegment
    """,
    "qir_semi_join": """
        SELECT c_mktsegment, COUNT(*) AS n,
               ROUND(AVG(c_acctbal), 2) AS avg_acct
        FROM customer
        WHERE EXISTS (SELECT 1 FROM orders WHERE o_custkey = c_custkey)
        GROUP BY c_mktsegment
    """,
    "qir_anti_join": """
        SELECT c_mktsegment, COUNT(*) AS n,
               ROUND(AVG(c_acctbal), 2) AS avg_acct
        FROM customer
        WHERE NOT EXISTS (SELECT 1 FROM events WHERE user_id = c_custkey)
        GROUP BY c_mktsegment
    """,
    "qir_having": """
        SELECT user_id, COUNT(*) AS n,
               COUNT(DISTINCT event_type) AS kinds,
               ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY user_id
        HAVING COUNT(*) >= 60 AND COUNT(DISTINCT event_type) >= 5
    """,
    "qir_min_by": """
        SELECT user_id, event_id FROM (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts ASC, event_id ASC) rn
            FROM events) t
        WHERE rn = 1
    """,
    "qir_count_distinct": """
        SELECT event_type, COUNT(DISTINCT user_id) AS users,
               COUNT(*) AS n
        FROM events GROUP BY event_type
    """,
    "qir_argmax": """
        SELECT user_id, event_id FROM (
            SELECT user_id, event_id,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) rn
            FROM events) t
        WHERE rn = 1
    """,
    "qir_hourly": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type, COUNT(*) AS n, ROUND(SUM(value), 2) AS sum_value
        FROM events GROUP BY 1, 2
    """,
    "facet_zone_clustered": """
        SELECT l_returnflag, COUNT(*) AS count FROM lineitem
        GROUP BY l_returnflag
        ORDER BY count DESC, l_returnflag ASC
        LIMIT 100
    """,
    "topk_string_pruned": """
        SELECT lpad(CAST(l_orderkey * 10 + l_linenumber AS VARCHAR), 10, '0') AS sk
        FROM lineitem ORDER BY sk DESC LIMIT 20
    """,
    "count_zone_values": """
        SELECT 'eq_R' AS pred, COUNT(*) AS n FROM lineitem WHERE l_returnflag = 'R'
        UNION ALL
        SELECT 'in_RA', COUNT(*) FROM lineitem WHERE l_returnflag IN ('R', 'A')
        UNION ALL
        SELECT 'in_absent', COUNT(*) FROM lineitem WHERE l_returnflag = 'Z'
        UNION ALL
        SELECT 'int_in', COUNT(*) FROM lineitem WHERE l_linenumber IN (1, 3)
        ORDER BY pred
    """,
    "find_eq": """
        SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice
        FROM lineitem
        WHERE l_returnflag = 'R' AND l_linestatus = 'F'
        ORDER BY l_orderkey, l_linenumber
        LIMIT 100
    """,
    "find_range": """
        SELECT COUNT(*) AS n FROM orders
        WHERE o_totalprice >= 100000.0 AND o_totalprice < 200000.0
    """,
    "find_or": """
        SELECT o_orderkey, o_orderpriority, o_orderstatus FROM orders
        WHERE (o_orderpriority = '1-URGENT' AND o_totalprice >= 250000.0)
           OR NOT (o_orderstatus IN ('F', 'O'))
        ORDER BY o_orderkey
    """,
    "find_in": """
        SELECT COUNT(*) AS n FROM customer
        WHERE c_mktsegment IN ('BUILDING', 'AUTOMOBILE')
    """,
    "find_nin": """
        SELECT COUNT(*) AS n FROM orders
        WHERE o_orderpriority NOT IN ('5-LOW', '4-NOT SPECIFIED')
    """,
    "find_like": """
        SELECT COUNT(*) AS n FROM part WHERE p_name LIKE '%red%'
    """,
    "find_regex": """
        SELECT s_suppkey, s_name FROM supplier
        WHERE regexp_matches(s_name, 'Supplier#0+1[0-9]$')
        ORDER BY s_suppkey
    """,
    "find_notnull": """
        SELECT COUNT(*) AS n FROM events WHERE props IS NOT NULL
    """,
    "find_exists": """
        SELECT event_type, COUNT(*) AS n FROM events
        WHERE props IS NOT NULL AND value >= 10.0
        GROUP BY event_type ORDER BY event_type
    """,
    "find_size": """
        SELECT COUNT(*) AS n FROM embeddings WHERE len(embedding) = 64
    """,
    "find_mod": """
        SELECT COUNT(*) AS n, ROUND(SUM(o_totalprice), 2) AS sum_price
        FROM orders WHERE o_orderkey % 4 = 2
    """,
    "sort_topk": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "topk_pruned": """
        SELECT o_orderkey, o_totalprice FROM orders
        ORDER BY o_totalprice DESC, o_orderkey ASC LIMIT 10
    """,
    "distinct_status": """
        SELECT DISTINCT o_orderstatus FROM orders
    """,
    "facet_priority": """
        SELECT o_orderpriority, COUNT(*) AS count FROM orders
        GROUP BY o_orderpriority
        ORDER BY count DESC, o_orderpriority ASC LIMIT 100
    """,
    "facet_multiselect": """
        SELECT o_orderpriority, COUNT(*) AS count FROM orders
        WHERE o_orderstatus = 'F'
        GROUP BY o_orderpriority
        ORDER BY count DESC, o_orderpriority ASC LIMIT 100
    """,
    "facet_compound": """
        SELECT l_returnflag, l_linestatus, COUNT(*) AS count FROM lineitem
        GROUP BY l_returnflag, l_linestatus
        ORDER BY count DESC, l_returnflag ASC, l_linestatus ASC LIMIT 100
    """,
    "groupby_tpch_q1": """
        SELECT l_returnflag, l_linestatus,
               ROUND(SUM(l_quantity), 2) AS sum_qty,
               ROUND(SUM(l_extendedprice), 2) AS sum_base_price,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS sum_disc_price,
               ROUND(AVG(l_quantity), 4) AS avg_qty,
               ROUND(AVG(l_discount), 4) AS avg_disc,
               COUNT(*) AS count_order
        FROM lineitem
        WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
        GROUP BY l_returnflag, l_linestatus
        ORDER BY l_returnflag, l_linestatus
    """,
    "pivot_status_priority": """
        SELECT o_orderstatus,
               COUNT(*) FILTER (WHERE o_orderpriority = '1-URGENT') AS n_urgent,
               COUNT(*) FILTER (WHERE o_orderpriority = '2-HIGH') AS n_high,
               COUNT(*) FILTER (WHERE o_orderpriority = '3-MEDIUM') AS n_medium
        FROM orders GROUP BY o_orderstatus
    """,
    "describe_totalprice": """
        SELECT COUNT(o_totalprice) AS count_n,
               COUNT(DISTINCT o_totalprice) AS n_distinct,
               ROUND(MIN(o_totalprice), 2) AS min_v,
               ROUND(MAX(o_totalprice), 2) AS max_v,
               ROUND(AVG(o_totalprice), 2) AS mean_v
        FROM orders
    """,
    "join_revenue_by_segment": """
        SELECT c_mktsegment,
               ROUND(SUM(o_totalprice), 2) AS revenue,
               COUNT(*) AS n_orders
        FROM orders JOIN customer ON o_custkey = c_custkey
        GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "join_supplier_geo": """
        SELECT r_name,
               COUNT(*) AS n_suppliers,
               ROUND(SUM(s_acctbal), 2) AS total_acctbal
        FROM supplier
        JOIN nation ON s_nationkey = n_nationkey
        JOIN region ON n_regionkey = r_regionkey
        GROUP BY r_name ORDER BY r_name
    """,
    "referential_integrity": """
        SELECT o_orderkey FROM orders o
        WHERE NOT EXISTS (SELECT 1 FROM lineitem l WHERE l.l_orderkey = o.o_orderkey)
        ORDER BY o_orderkey
    """,
    "window_latest_event": """
        SELECT user_id, event_id, event_type FROM (
            SELECT user_id, event_id, event_type,
                   ROW_NUMBER() OVER (PARTITION BY user_id
                                      ORDER BY ts DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn = 1 ORDER BY user_id
    """,
    "window_hourly_rollup": """
        SELECT strftime(date_trunc('hour', ts), '%Y-%m-%d %H:%M:%S') AS hour,
               event_type,
               COUNT(*) AS n,
               ROUND(SUM(value), 2) AS sum_value
        FROM events
        GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "knn_cosine": """
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        FROM embeddings e, q
        WHERE e.vec_id != 0
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) DESC,
                 e.vec_id ASC
        LIMIT 10
    """,
    "knn_euclidean": """
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 0
        )
        SELECT vec_id,
               ROUND(list_distance(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        FROM embeddings e, q
        WHERE e.vec_id != 0
        ORDER BY list_distance(CAST(e.embedding AS DOUBLE[]), q.qv) ASC,
                 e.vec_id ASC
        LIMIT 10
    """,
    "dedup_exact": """
        SELECT d.doc_id, m.dup_of FROM documents d
        JOIN (
            SELECT text, MIN(doc_id) AS dup_of, COUNT(*) AS c
            FROM documents GROUP BY text
        ) m ON d.text = m.text
        WHERE m.c > 1 AND d.doc_id != m.dup_of
    """,
    "embedding_dup_exact": """
        SELECT a.vec_id AS left_id, b.vec_id AS right_id,
               ROUND(list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                            CAST(b.embedding AS DOUBLE[])), 4)
                   AS cosine
        FROM embeddings a JOIN embeddings b ON a.vec_id < b.vec_id
        WHERE list_cosine_similarity(CAST(a.embedding AS DOUBLE[]),
                                     CAST(b.embedding AS DOUBLE[])) >= 0.45
    """,
    "dedup_jaccard": r"""
        WITH sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks)-1),
                           i -> array_to_string(toks[i:i+2], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS s
          FROM (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents)
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               ROUND(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.4
    """,
    # dedup_minhash emits the exact-verified LSH pairs at j >= 0.9; the
    # oracle is the all-pairs exact answer (banding recall at j>=0.9 is
    # 1 - 4e-8 per pair AND is independently proven total on this data by
    # the judge-side differential check in tools/oracle_compare.py)
    "dedup_minhash": r"""
        WITH sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks)-1),
                           i -> array_to_string(toks[i:i+2], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS s
          FROM (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents)
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               ROUND(len(list_intersect(a.s, b.s))::DOUBLE
                     / len(list_distinct(list_concat(a.s, b.s))), 4) AS jaccard
        FROM sh a JOIN sh b ON a.doc_id < b.doc_id
        WHERE len(list_intersect(a.s, b.s))::DOUBLE
              / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
    """,
    "dedup_groups": r"""
        WITH RECURSIVE sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks)-1),
                           i -> array_to_string(toks[i:i+2], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS s
          FROM (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents)
        ),
        pairs AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))) >= 0.4
        ),
        edges AS (
          SELECT u, v FROM pairs UNION SELECT v, u FROM pairs
        ),
        reach AS (
          SELECT doc_id AS id, doc_id AS comp FROM documents
          UNION
          SELECT e.v AS id, r.comp FROM reach r JOIN edges e ON e.u = r.id
        )
        SELECT id AS doc_id, MIN(comp) AS group_id
        FROM reach GROUP BY id ORDER BY doc_id
    """,
    # adaptive_quality: byte-exact quality-score replay (the
    # quality_classifier fragment) + per-source quantile_cont(0.2)
    # threshold + >= filter; scores rounded 6dp in the OUTPUT only.
    "adaptive_quality": r"""
        WITH w AS (
          SELECT doc_id, source, text, length(text) AS n,
                 string_split_regex(lower(trim(text)), '\s+') AS words
          FROM documents
        ),
        s AS (
          SELECT doc_id, source,
            (least(n / 500.0, 1.0)
               * (CASE WHEN n > 20000 THEN 0.5 ELSE 1.0 END)
             + 1.0 - least((CASE WHEN n = 0 THEN 0.0
                  ELSE (n - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                       / n::DOUBLE END) * 4.0, 1.0)
             + CASE WHEN (CASE WHEN len(words) = 0 THEN 0.0
                 ELSE coalesce(list_sum(list_transform(words,
                        x -> length(x))), 0)::DOUBLE / len(words) END)
                 >= 3.0
                AND (CASE WHEN len(words) = 0 THEN 0.0
                 ELSE coalesce(list_sum(list_transform(words,
                        x -> length(x))), 0)::DOUBLE / len(words) END)
                 <= 10.0
               THEN 1.0 ELSE 0.5 END
             + least((CASE WHEN len(words) = 0 THEN 0.0
                 ELSE len(list_filter(words, x -> list_contains(
                   ['the','and','of','to','in','is','that','it','for','with'],
                   x)))::DOUBLE / len(words) END) * 5.0, 1.0)
            ) / 4.0 AS q
          FROM w
        ),
        thr AS (
          SELECT source, quantile_cont(q, 0.2) AS t FROM s GROUP BY source
        )
        SELECT s.doc_id, s.source,
               ROUND(s.q, 6) AS quality,
               ROUND(thr.t, 6) AS group_threshold
        FROM s JOIN thr USING (source)
        WHERE s.q >= thr.t
        ORDER BY s.doc_id
    """,
    # fingerprint_overlap: full replay of the winnowing selection rule —
    # signed md5-low64 k-gram hashes, rightmost-min per w-window, distinct
    # (doc, fp) self-join counted at min_shared=2.
    "fingerprint_overlap": r"""
        WITH toks AS (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents
        ),
        gh AS MATERIALIZED (
          SELECT doc_id,
            CASE WHEN len(l) >= 5
                 THEN list_transform(range(1, len(l) - 3), i ->
                   (('0x' || substr(md5(array_to_string(l[i : i + 4], ' ')),
                       17, 16))::UBIGINT::HUGEINT
                    - CASE WHEN ('0x' || substr(
                          md5(array_to_string(l[i : i + 4], ' ')),
                          17, 16))::UBIGINT
                           >= 9223372036854775808::UBIGINT
                           THEN 18446744073709551616::HUGEINT
                           ELSE 0::HUGEINT END)::BIGINT)
                 ELSE [
                   (('0x' || substr(md5(array_to_string(l, ' ')),
                       17, 16))::UBIGINT::HUGEINT
                    - CASE WHEN ('0x' || substr(md5(array_to_string(l, ' ')),
                          17, 16))::UBIGINT
                           >= 9223372036854775808::UBIGINT
                           THEN 18446744073709551616::HUGEINT
                           ELSE 0::HUGEINT END)::BIGINT] END AS g
          FROM toks
        ),
        wins AS (
          SELECT doc_id, i.i AS i,
                 CASE WHEN len(g) >= 4 THEN g[i.i : i.i + 3]
                      ELSE g END AS sl
          FROM gh, LATERAL (
            SELECT unnest(CASE WHEN len(g) >= 4
                               THEN range(1, len(g) - 2)
                               ELSE [1] END) AS i) i
        ),
        fps AS (
          SELECT DISTINCT doc_id, list_min(sl) AS fp
          FROM wins
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               COUNT(*) AS shared_fps
        FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
        GROUP BY 1, 2 HAVING COUNT(*) >= 2
        ORDER BY left_id, right_id
    """,
    # ngram_lm_score: full replay of the trigram stupid-backoff scorer —
    # count tables from the target split, per-position highest-match CASE
    # chain with alpha=0.4 per unmatched REACHABLE order, unigram floor
    # 1/N for OOV, mean log10 rounded 4dp.
    "ngram_lm_score": r"""
        WITH tgt AS MATERIALIZED (
          SELECT string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents WHERE source IN ('src0', 'src1')
        ),
        c1 AS MATERIALIZED (
          SELECT g, COUNT(*) AS n
          FROM (SELECT unnest(l) AS g FROM tgt) GROUP BY 1
        ),
        c2 AS MATERIALIZED (
          SELECT g, COUNT(*) AS n
          FROM (SELECT array_to_string(l[i : i + 1], ' ') AS g
                FROM tgt, LATERAL (
                  SELECT unnest(range(1, len(l))) AS i) t)
          GROUP BY 1
        ),
        c3 AS MATERIALIZED (
          SELECT g, COUNT(*) AS n
          FROM (SELECT array_to_string(l[i : i + 2], ' ') AS g
                FROM tgt, LATERAL (
                  SELECT unnest(range(1, len(l) - 1)) AS i) t)
          GROUP BY 1
        ),
        nt AS (SELECT SUM(n)::DOUBLE AS N FROM c1),
        rawd AS MATERIALIZED (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents WHERE source NOT IN ('src0', 'src1')
        ),
        posx AS MATERIALIZED (
          SELECT doc_id, len(l) AS n_tokens, p.p AS p,
                 l[p] AS g1,
                 CASE WHEN p >= 2
                      THEN array_to_string(l[p-1 : p], ' ') END AS g2,
                 CASE WHEN p >= 2 THEN l[p-1] END AS c2g,
                 CASE WHEN p >= 3
                      THEN array_to_string(l[p-2 : p], ' ') END AS g3,
                 CASE WHEN p >= 3
                      THEN array_to_string(l[p-2 : p-1], ' ') END AS c3g
          FROM rawd, LATERAL (SELECT unnest(range(1, len(l) + 1)) AS p) p
        ),
        sc AS (
          SELECT doc_id, n_tokens,
            CASE WHEN p >= 3 AND g3n.n IS NOT NULL AND c3n.n IS NOT NULL
                 THEN g3n.n::DOUBLE / c3n.n
                 ELSE (CASE WHEN p >= 3 THEN 0.4 ELSE 1.0 END) *
                   CASE WHEN p >= 2 AND g2n.n IS NOT NULL
                             AND c2n.n IS NOT NULL
                        THEN g2n.n::DOUBLE / c2n.n
                        ELSE (CASE WHEN p >= 2 THEN 0.4 ELSE 1.0 END) *
                          (CASE WHEN COALESCE(g1n.n, 0) > 0
                                THEN g1n.n::DOUBLE / (SELECT N FROM nt)
                                ELSE 1.0 / (SELECT N FROM nt) END)
                   END
            END AS s
          FROM posx
          LEFT JOIN c1 g1n ON g1n.g = posx.g1
          LEFT JOIN c2 g2n ON g2n.g = posx.g2
          LEFT JOIN c1 c2n ON c2n.g = posx.c2g
          LEFT JOIN c3 g3n ON g3n.g = posx.g3
          LEFT JOIN c2 c3n ON c3n.g = posx.c3g
        )
        SELECT doc_id, n_tokens,
               ROUND(AVG(log10(s)), 4) AS logprob_per_token
        FROM sc GROUP BY 1, 2 ORDER BY doc_id
    """,
    # dsir_select: full replay — md5-low64 bucket hash (the simhash
    # oracle's bit-identical conversion), Laplace-smoothed bucket models
    # over target (src0+src1) vs raw (the rest), per-doc weighted sums
    # rounded to 4dp, tie-inclusive top-50 flag on the ROUNDED weight.
    "dsir_select": r"""
        WITH docs2 AS MATERIALIZED (
          SELECT doc_id,
                 string_split_regex(lower(trim(text)), '\s+') AS l,
                 source IN ('src0', 'src1') AS is_tgt
          FROM documents
        ),
        feats AS (
          SELECT doc_id, is_tgt,
                 unnest(list_concat(
                   l,
                   CASE WHEN len(l) >= 2
                        THEN list_transform(range(1, len(l)),
                             i -> l[i] || ' ' || l[i + 1])
                        ELSE CAST([] AS VARCHAR[]) END)) AS f
          FROM docs2
        ),
        fb AS MATERIALIZED (
          SELECT doc_id, is_tgt,
                 CAST((((v - CASE WHEN v >= 9223372036854775808::HUGEINT
                                  THEN 18446744073709551616::HUGEINT
                                  ELSE 0 END) % 1009) + 1009) % 1009
                      AS BIGINT) AS bucket
          FROM (SELECT doc_id, is_tgt,
                       ('0x' || substr(md5(f), 17, 16))::UBIGINT::HUGEINT
                         AS v
                FROM feats)
        ),
        docfeat AS MATERIALIZED (
          SELECT doc_id, bucket, COUNT(*) AS c
          FROM fb WHERE NOT is_tgt GROUP BY 1, 2
        ),
        rawb AS (SELECT bucket, SUM(c) AS n FROM docfeat GROUP BY 1),
        tgtb AS (
          SELECT bucket, COUNT(*) AS n FROM fb WHERE is_tgt GROUP BY 1
        ),
        tot AS (
          SELECT (SELECT COALESCE(SUM(n), 0) FROM rawb) AS R,
                 (SELECT COALESCE(SUM(n), 0) FROM tgtb) AS T
        ),
        ratio AS (
          SELECT bucket,
                 ln((COALESCE(t.n, 0) + 1.0)
                    / ((SELECT T FROM tot) + 1009.0))
               - ln((COALESCE(r.n, 0) + 1.0)
                    / ((SELECT R FROM tot) + 1009.0)) AS lr
          FROM rawb r FULL OUTER JOIN tgtb t USING (bucket)
        ),
        w AS MATERIALIZED (
          SELECT d.doc_id, ROUND(SUM(d.c * ratio.lr), 4) AS log_w
          FROM docfeat d JOIN ratio USING (bucket)
          GROUP BY 1
        ),
        th AS (
          SELECT MIN(log_w) AS t
          FROM (SELECT log_w FROM w ORDER BY log_w DESC LIMIT 50)
        )
        SELECT doc_id, log_w, log_w >= (SELECT t FROM th) AS selected
        FROM w ORDER BY doc_id
    """,
    # corpus_pipeline: full per-stage replay — normalize (nfc + control
    # strip + space/tab collapse) -> scrub (EMAIL/IP/SSN/PHONE) -> quality
    # gate (>=5 BPE pre-tokens, dup_line_frac <= .5, top_bigram_frac <= .5
    # over the SCRUBBED text) -> exact-verified jaccard>=0.9 connected-
    # components dedup -> md5 hash split (exact float-accumulated hex
    # boundaries fae147ae / fd70a3d7) -> 128-token chunks -> per-split
    # chunk_id-ordered greedy packing at budget 1024 (single partition).
    # Each fragment is the proven oracle of its standalone query.
    "corpus_pipeline": r"""
        WITH RECURSIVE norm AS MATERIALIZED (
          SELECT doc_id,
                 trim(regexp_replace(regexp_replace(
                   nfc_normalize(text),
                   '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                   '[ ' || chr(9) || ']+', ' ', 'g')) AS text
          FROM documents
        ),
        scrubbed AS MATERIALIZED (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
                   '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
                   '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                   '\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g')
                   AS text
          FROM norm
        ),
        rep AS MATERIALIZED (
          SELECT s.doc_id,
                 1.0 - CAST(len(list_distinct(string_split(s.text, chr(10))))
                            AS DOUBLE)
                     / len(string_split(s.text, chr(10))) AS dup_line_frac,
                 COALESCE(CAST(g.maxn AS DOUBLE) / g.tot, 0.0)
                   AS top_bigram_frac
          FROM scrubbed s
          LEFT JOIN (
            SELECT doc_id, MAX(n) AS maxn, SUM(n) AS tot
            FROM (
              SELECT doc_id, l[i] || ' ' || l[i + 1] AS gram, COUNT(*) AS n
              FROM (
                SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS l,
                       unnest(generate_series(1, len(string_split_regex(
                         lower(trim(text)), '\s+')) - 1)) AS i
                FROM scrubbed
              )
              GROUP BY 1, 2
            ) GROUP BY doc_id
          ) g USING (doc_id)
        ),
        gated AS MATERIALIZED (
          SELECT s.doc_id, s.text
          FROM scrubbed s JOIN rep r USING (doc_id)
          WHERE len(regexp_extract_all(s.text,
                  '\s*(?:[A-Za-z]+|\d{1,3}|[^\sA-Za-z\d]+)')) >= 5
            AND r.dup_line_frac <= 0.5
            AND r.top_bigram_frac <= 0.5
        ),
        shg AS MATERIALIZED (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks)-1),
                           i -> array_to_string(toks[i:i+2], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS s
          FROM (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM gated)
        ),
        dp AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM shg a JOIN shg b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
        ),
        de AS (SELECT u, v FROM dp UNION SELECT v, u FROM dp),
        dr AS (
          SELECT doc_id AS id, doc_id AS comp FROM gated
          UNION
          SELECT e.v AS id, r.comp FROM dr r JOIN de e ON e.u = r.id
        ),
        surv AS MATERIALIZED (
          SELECT id AS doc_id
          FROM (SELECT id, MIN(comp) AS comp FROM dr GROUP BY id)
          WHERE comp = id
        ),
        uniq AS MATERIALIZED (
          SELECT g.doc_id, g.text FROM gated g
          JOIN surv USING (doc_id)
        ),
        spl AS MATERIALIZED (
          SELECT doc_id, text,
                 CASE WHEN u < 'fae147ae' THEN 'train'
                      WHEN u < 'fd70a3d7' THEN 'val'
                      ELSE 'test' END AS split
          FROM (SELECT doc_id, text,
                       substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8) AS u
                FROM uniq)
        ),
        tok AS MATERIALIZED (
          SELECT doc_id, split,
                 len(regexp_extract_all(text,
                   '\s*(?:[A-Za-z]+|\d{1,3}|[^\sA-Za-z\d]+)')) AS n
          FROM spl
        ),
        chunks AS MATERIALIZED (
          SELECT split,
                 CAST(doc_id AS VARCHAR) || '#' || CAST(s // 128 AS VARCHAR)
                   AS cid,
                 least(128, n - s) AS nt
          FROM (SELECT doc_id, split, n,
                       unnest(generate_series(0, greatest(n - 1, 0), 128)) AS s
                FROM tok WHERE n > 0)
        ),
        ord AS MATERIALIZED (
          SELECT split, cid, nt,
                 row_number() OVER (PARTITION BY split ORDER BY cid) AS rn
          FROM chunks
        ),
        rec AS (
          SELECT split, rn, nt,
                 CAST(0 AS BIGINT) AS emit_pack,
                 CASE WHEN nt >= 1024 THEN CAST(1 AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS post_pack,
                 CASE WHEN nt >= 1024 THEN 0 ELSE nt END AS post_used,
                 CASE WHEN nt >= 1024 THEN 0 ELSE 1 END AS post_pos
          FROM ord WHERE rn = 1
          UNION ALL
          SELECT o.split, o.rn, o.nt,
                 r.post_pack + CASE WHEN r.post_pos > 0
                                     AND r.post_used + o.nt > 1024
                                    THEN 1 ELSE 0 END,
                 r.post_pack
                   + CASE WHEN r.post_pos > 0 AND r.post_used + o.nt > 1024
                          THEN 1 ELSE 0 END
                   + CASE WHEN (CASE WHEN r.post_pos > 0
                                      AND r.post_used + o.nt > 1024
                                     THEN 0 ELSE r.post_used END) + o.nt >= 1024
                          THEN 1 ELSE 0 END,
                 CASE WHEN (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 1024
                                 THEN 0 ELSE r.post_used END) + o.nt >= 1024
                      THEN 0
                      ELSE (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 1024
                                 THEN 0 ELSE r.post_used END) + o.nt END,
                 CASE WHEN (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 1024
                                 THEN 0 ELSE r.post_used END) + o.nt >= 1024
                      THEN 0
                      ELSE (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 1024
                                 THEN 0 ELSE r.post_pos END) + 1 END
          FROM rec r JOIN ord o ON o.split = r.split AND o.rn = r.rn + 1
        )
        SELECT 'after_dedup' AS stage,
               CAST((SELECT COUNT(*) FROM surv) AS BIGINT) AS "rows"
        UNION ALL
        SELECT 'after_quality_gate',
               CAST((SELECT COUNT(*) FROM gated) AS BIGINT)
        UNION ALL
        SELECT 'chunks', CAST((SELECT COUNT(*) FROM chunks) AS BIGINT)
        UNION ALL
        SELECT 'input', CAST((SELECT COUNT(*) FROM documents) AS BIGINT)
        UNION ALL
        SELECT 'packs',
               CAST((SELECT COUNT(DISTINCT (split, emit_pack)) FROM rec)
                    AS BIGINT)
        ORDER BY stage
    """,
    # dedup_incremental runs in exact-verified mode (verify_threshold=0.9):
    # banding is candidates-only, removal requires exact shingle jaccard,
    # so the replay below IS the operator's semantics (recall argument as
    # dedup_minhash). Two-batch faithful replay: batch-1 (even ids) CC
    # survivors form the index; batch-2 (odd ids) docs are removed vs
    # those survivors, then CC'd within the remainder.
    "dedup_incremental": r"""
        WITH RECURSIVE sh AS (
          SELECT doc_id,
                 CASE WHEN len(toks) >= 3
                      THEN list_distinct(list_transform(range(1, len(toks)-1),
                           i -> array_to_string(toks[i:i+2], ' ')))
                      ELSE [array_to_string(toks, ' ')] END AS s,
                 doc_id % 2 = 0 AS in_b1
          FROM (SELECT doc_id,
                       string_split_regex(lower(trim(text)), '\s+') AS toks
                FROM documents)
        ),
        p1 AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM sh a JOIN sh b ON a.doc_id < b.doc_id
          WHERE a.in_b1 AND b.in_b1
            AND len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
        ),
        e1 AS (SELECT u, v FROM p1 UNION SELECT v, u FROM p1),
        r1 AS (
          SELECT doc_id AS id, doc_id AS comp FROM sh WHERE in_b1
          UNION
          SELECT e.v AS id, r.comp FROM r1 r JOIN e1 e ON e.u = r.id
        ),
        surv1 AS (
          SELECT id AS doc_id
          FROM (SELECT id, MIN(comp) AS comp FROM r1 GROUP BY id)
          WHERE comp = id
        ),
        dup2 AS (
          SELECT DISTINCT b.doc_id
          FROM sh b, sh s
          WHERE NOT b.in_b1
            AND s.doc_id IN (SELECT doc_id FROM surv1)
            AND len(list_intersect(b.s, s.s))::DOUBLE
                / len(list_distinct(list_concat(b.s, s.s))) >= 0.9
        ),
        fresh2 AS (
          SELECT doc_id, s FROM sh
          WHERE NOT in_b1 AND doc_id NOT IN (SELECT doc_id FROM dup2)
        ),
        p2 AS (
          SELECT a.doc_id AS u, b.doc_id AS v
          FROM fresh2 a JOIN fresh2 b ON a.doc_id < b.doc_id
          WHERE len(list_intersect(a.s, b.s))::DOUBLE
                / len(list_distinct(list_concat(a.s, b.s))) >= 0.9
        ),
        e2 AS (SELECT u, v FROM p2 UNION SELECT v, u FROM p2),
        r2 AS (
          SELECT doc_id AS id, doc_id AS comp FROM fresh2
          UNION
          SELECT e.v AS id, r.comp FROM r2 r JOIN e2 e ON e.u = r.id
        ),
        surv2 AS (
          SELECT id AS doc_id
          FROM (SELECT id, MIN(comp) AS comp FROM r2 GROUP BY id)
          WHERE comp = id
        )
        SELECT doc_id, 'batch1' AS batch FROM surv1
        UNION ALL
        SELECT doc_id, 'batch2' AS batch FROM surv2
        ORDER BY doc_id
    """,
    "dedup_simhash": r"""
        WITH toks AS (
          SELECT doc_id,
                 unnest(string_split_regex(lower(trim(text)), '\s+')) AS tok
          FROM documents
        ),
        h AS (
          SELECT doc_id, ('0x' || substr(md5(tok), 17, 16))::UBIGINT AS h
          FROM toks
        ),
        bitsum AS (
          SELECT doc_id, b.i,
                 SUM(CASE WHEN (h >> b.i) & 1 = 1 THEN 1 ELSE -1 END) AS s
          FROM h CROSS JOIN (SELECT unnest(range(64)) AS i) b
          GROUP BY doc_id, b.i
        ),
        sig AS (
          SELECT doc_id,
                 SUM(CASE WHEN s > 0 THEN (1::UBIGINT << i) ELSE 0::UBIGINT END)::UBIGINT AS sig
          FROM bitsum GROUP BY doc_id
        )
        SELECT a.doc_id AS left_id, b.doc_id AS right_id,
               bit_count(xor(a.sig, b.sig)) AS hamming
        FROM sig a JOIN sig b ON a.doc_id < b.doc_id
        WHERE bit_count(xor(a.sig, b.sig)) <= 3
        ORDER BY left_id, right_id
    """,
    "bpe_tokenize": r"""
        SELECT doc_id,
               md5(array_to_string(
                     string_split_regex(lower(trim(text)), '\s+'), ' '))
                 AS roundtrip_md5
        FROM documents ORDER BY doc_id
    """,
    "deterministic_shuffle": """
        SELECT doc_id,
               substr(md5(CAST(doc_id AS VARCHAR) || 'ep1'), 1, 8) AS shuffle_key
        FROM documents
    """,
    "token_budget_sample": r"""
        WITH t AS (
          SELECT doc_id, source,
                 substr(md5(CAST(doc_id AS VARCHAR) || 'budget'), 1, 8) AS k,
                 CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                      ELSE len(regexp_split_to_array(TRIM(text), '\s+')) END AS n
          FROM documents
        ),
        c AS (
          SELECT doc_id, source,
                 sum(n) OVER (ORDER BY k, doc_id ROWS UNBOUNDED PRECEDING) AS cum
          FROM t
        )
        SELECT doc_id, source FROM c WHERE cum <= 2000 ORDER BY doc_id
    """,
    "span_stats": r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        win AS (
          SELECT doc_id, len(t) AS n_tokens, s.s AS start,
                 array_to_string(t[s.s+1 : s.s+8], ' ') AS gram
          FROM toks, LATERAL (
            SELECT unnest(CASE WHEN len(t) >= 8
                               THEN range(0, len(t)-8+1) ELSE [0] END) AS s
          ) s
        ),
        pg AS (
          SELECT gram FROM win GROUP BY gram
          HAVING count(DISTINCT doc_id) > 1
        ),
        dup AS (
          SELECT w.doc_id, w.start,
                 row_number() OVER (PARTITION BY w.gram
                                    ORDER BY w.doc_id, w.start) AS rn
          FROM win w JOIN pg USING (gram)
        ),
        covw AS (
          SELECT doc_id, start,
                 least(8, coalesce(
                   lead(start) OVER (PARTITION BY doc_id ORDER BY start)
                     - start, 8)) AS cov
          FROM dup WHERE rn > 1
        ),
        cov AS (
          SELECT doc_id, count(*) AS dup_windows,
                 CAST(sum(cov) AS BIGINT) AS dup_tokens
          FROM covw GROUP BY doc_id
        )
        SELECT d.doc_id,
               len(string_split_regex(lower(trim(d.text)), '\s+')) AS n_tokens,
               coalesce(c.dup_windows, 0) AS dup_windows,
               least(coalesce(c.dup_tokens, 0),
                     len(string_split_regex(lower(trim(d.text)), '\s+'))) AS dup_tokens,
               round(least(coalesce(c.dup_tokens, 0)::DOUBLE
                     / greatest(len(string_split_regex(lower(trim(d.text)), '\s+')), 1),
                     1.0), 6) AS dup_fraction
        FROM documents d LEFT JOIN cov c USING (doc_id)
        ORDER BY d.doc_id
    """,
    "span_stats_window": r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        win AS (
          SELECT doc_id, len(t) AS n_tokens, s.s AS start,
                 array_to_string(t[s.s+1 : s.s+8], ' ') AS gram
          FROM toks, LATERAL (
            SELECT unnest(CASE WHEN len(t) >= 8
                               THEN range(0, len(t)-8+1) ELSE [0] END) AS s
          ) s
        ),
        pg AS (
          SELECT gram FROM win GROUP BY gram
          HAVING count(DISTINCT doc_id) > 1
        ),
        dup AS (
          SELECT w.doc_id, w.start,
                 row_number() OVER (PARTITION BY w.gram
                                    ORDER BY w.doc_id, w.start) AS rn
          FROM win w JOIN pg USING (gram)
        ),
        covw AS (
          SELECT doc_id, start,
                 least(8, coalesce(
                   lead(start) OVER (PARTITION BY doc_id ORDER BY start)
                     - start, 8)) AS cov
          FROM dup WHERE rn > 1
        ),
        cov AS (
          SELECT doc_id, count(*) AS dup_windows,
                 CAST(sum(cov) AS BIGINT) AS dup_tokens
          FROM covw GROUP BY doc_id
        )
        SELECT d.doc_id,
               len(string_split_regex(lower(trim(d.text)), '\s+')) AS n_tokens,
               coalesce(c.dup_windows, 0) AS dup_windows,
               least(coalesce(c.dup_tokens, 0),
                     len(string_split_regex(lower(trim(d.text)), '\s+'))) AS dup_tokens,
               round(least(coalesce(c.dup_tokens, 0)::DOUBLE
                     / greatest(len(string_split_regex(lower(trim(d.text)), '\s+')), 1),
                     1.0), 6) AS dup_fraction
        FROM documents d LEFT JOIN cov c USING (doc_id)
        ORDER BY d.doc_id
    """,
    "span_dedup_incremental": r"""
        -- Faithful replay of the TWO-BATCH incremental semantics (no
        -- incremental==one-shot equivalence assumed): batch 1 = doc_id <=
        -- (min+max)//2 gets within-batch cross-doc keep-first; its CLEANED
        -- text's grams form the index; batch 2 removes windows whose gram
        -- is in the index OR is a within-batch-2 non-canonical cross-doc
        -- duplicate. Gram identity here is the token-slice string (the
        -- engine's 128-bit xxhash64 pair collides with probability ~0).
        WITH cut AS (SELECT (min(doc_id) + max(doc_id)) // 2 AS c FROM documents),
        base AS (
          SELECT doc_id, text,
                 string_split_regex(lower(trim(text)), '\s+') AS t,
                 doc_id <= (SELECT c FROM cut) AS in_b1
          FROM documents
        ),
        win AS (
          SELECT doc_id, in_b1, s.s AS start,
                 array_to_string(t[s.s+1 : s.s+8], ' ') AS gram
          FROM base, LATERAL (
            SELECT unnest(CASE WHEN len(t) >= 8
                               THEN range(0, len(t)-8+1) ELSE [0] END) AS s
          ) s
        ),
        pg1 AS (
          SELECT gram FROM win WHERE in_b1 GROUP BY gram
          HAVING count(DISTINCT doc_id) > 1
        ),
        dup1 AS (
          SELECT w.doc_id, w.start,
                 row_number() OVER (PARTITION BY w.gram
                                    ORDER BY w.doc_id, w.start) AS rn
          FROM win w JOIN pg1 USING (gram) WHERE w.in_b1
        ),
        drops1 AS (
          SELECT doc_id, list(DISTINCT p) AS drops
          FROM (SELECT doc_id, unnest(range(start, start + 8)) AS p
                FROM dup1 WHERE rn > 1)
          GROUP BY doc_id
        ),
        b1surv AS (
          SELECT b.doc_id, b.text, b.t,
                 CASE WHEN d.doc_id IS NULL THEN b.t
                      ELSE list_filter(b.t, (x, i) -> NOT list_contains(d.drops, i - 1))
                 END AS surv,
                 d.doc_id IS NOT NULL AS cleaned
          FROM base b LEFT JOIN drops1 d USING (doc_id)
          WHERE b.in_b1
        ),
        -- grams the engine appends to the index: windows over the cleaned
        -- batch-1 text (an all-removed doc re-tokenizes to [''])
        b1toks AS (
          SELECT doc_id, CASE WHEN len(surv) = 0 THEN [''] ELSE surv END AS t2
          FROM b1surv
        ),
        idx AS (
          SELECT DISTINCT array_to_string(t2[s.s+1 : s.s+8], ' ') AS gram
          FROM b1toks, LATERAL (
            SELECT unnest(CASE WHEN len(t2) >= 8
                               THEN range(0, len(t2)-8+1) ELSE [0] END) AS s
          ) s
        ),
        pg2 AS (
          SELECT gram FROM win WHERE NOT in_b1 GROUP BY gram
          HAVING count(DISTINCT doc_id) > 1
        ),
        dup2w AS (
          SELECT w.doc_id, w.start,
                 row_number() OVER (PARTITION BY w.gram
                                    ORDER BY w.doc_id, w.start) AS rn
          FROM win w JOIN pg2 USING (gram) WHERE NOT w.in_b1
        ),
        dup2 AS (
          SELECT doc_id, start FROM dup2w WHERE rn > 1
          UNION
          SELECT doc_id, start FROM win
          WHERE NOT in_b1 AND gram IN (SELECT gram FROM idx)
        ),
        drops2 AS (
          SELECT doc_id, list(DISTINCT p) AS drops
          FROM (SELECT doc_id, unnest(range(start, start + 8)) AS p FROM dup2)
          GROUP BY doc_id
        ),
        b2surv AS (
          SELECT b.doc_id, b.text, b.t,
                 CASE WHEN d.doc_id IS NULL THEN b.t
                      ELSE list_filter(b.t, (x, i) -> NOT list_contains(d.drops, i - 1))
                 END AS surv,
                 d.doc_id IS NOT NULL AS cleaned
          FROM base b LEFT JOIN drops2 d USING (doc_id)
          WHERE NOT b.in_b1
        ),
        allsurv AS (
          SELECT * FROM b1surv UNION ALL SELECT * FROM b2surv
        )
        SELECT doc_id,
               CASE WHEN cleaned THEN len(surv)
                    WHEN trim(text) = '' THEN 0
                    ELSE len(t) END AS n_tokens_left
        FROM allsurv
        ORDER BY doc_id
    """,
    "paragraph_dedup": r"""
        WITH toks AS (
          SELECT doc_id, string_split_regex(lower(trim(text)), '\s+') AS t
          FROM documents
        ),
        seg AS (
          SELECT doc_id,
                 greatest(ceil(len(t) / 10.0), 1)::INT AS n_segments,
                 i.i AS seg_idx,
                 regexp_replace(lower(
                   array_to_string(t[i.i*10+1 : i.i*10+10], ' ')),
                   '\s+', ' ', 'g') AS s
          FROM toks, LATERAL (
            SELECT unnest(range(0, greatest(ceil(len(t) / 10.0), 1)::INT)) AS i
          ) i
        ),
        ph AS (
          SELECT s FROM seg GROUP BY s HAVING count(DISTINCT doc_id) > 1
        ),
        dup AS (
          SELECT doc_id, count(*) AS dup_segments
          FROM seg JOIN ph USING (s) GROUP BY doc_id
        )
        SELECT b.doc_id, b.n_segments,
               coalesce(d.dup_segments, 0) AS dup_segments,
               round(coalesce(d.dup_segments, 0)::DOUBLE
                     / greatest(b.n_segments, 1), 6) AS dup_fraction
        FROM (SELECT doc_id, max(n_segments) AS n_segments
              FROM seg GROUP BY doc_id) b
        LEFT JOIN dup d USING (doc_id)
        ORDER BY b.doc_id
    """,
    "semantic_dedup": r"""
        -- Replay of keep=min_id SemDeDup under the deterministic
        -- hyperplane clustering the query uses (sign bits of the first
        -- three components): a row is dropped iff a lower-id same-cluster
        -- row is within 0.45 cosine; dup_of = the lowest such id.
        WITH e AS (
          SELECT vec_id, embedding::DOUBLE[] AS v,
                 (CASE WHEN embedding[1] >= 0 THEN 4 ELSE 0 END
                + CASE WHEN embedding[2] >= 0 THEN 2 ELSE 0 END
                + CASE WHEN embedding[3] >= 0 THEN 1 ELSE 0 END) AS cl
          FROM embeddings
        ),
        d AS (
          SELECT a.vec_id, min(b.vec_id) AS dup_of
          FROM e a JOIN e b ON a.cl = b.cl AND b.vec_id < a.vec_id
          WHERE list_cosine_similarity(a.v, b.v) >= 0.45
          GROUP BY a.vec_id
        )
        SELECT e.vec_id, d.dup_of, d.dup_of IS NULL AS is_kept
        FROM e LEFT JOIN d USING (vec_id)
        ORDER BY e.vec_id
    """,
    "quality_classifier": r"""
        -- Replays the weak-label distillation seed (the native-expression
        -- quality score: length sweet-spot, punctuation penalty, word-length
        -- band, stopword prose-ness) byte-exactly; acc_ok asserts the
        -- trained model's agreement with those labels cleared 0.85.
        WITH w AS (
          SELECT doc_id, text, length(text) AS n,
                 string_split_regex(lower(trim(text)), '\s+') AS words
          FROM documents
        ),
        s AS (
          SELECT doc_id,
            least(n / 500.0, 1.0)
              * (CASE WHEN n > 20000 THEN 0.5 ELSE 1.0 END) AS length_score,
            1.0 - least((CASE WHEN n = 0 THEN 0.0
                  ELSE (n - length(regexp_replace(text, '[^\w\s]', '', 'g')))
                       / n::DOUBLE END) * 4.0, 1.0) AS punct_penalty,
            CASE WHEN len(words) = 0 THEN 0.0
                 ELSE coalesce(list_sum(list_transform(words, x -> length(x))), 0)::DOUBLE
                      / len(words) END AS wl,
            CASE WHEN len(words) = 0 THEN 0.0
                 ELSE len(list_filter(words, x -> list_contains(
                        ['the','and','of','to','in','is','that','it','for','with'], x)))::DOUBLE
                      / len(words) END AS swr
          FROM w
        )
        SELECT doc_id,
          CAST(CASE WHEN (length_score + punct_penalty
                 + CASE WHEN wl >= 3.0 AND wl <= 10.0 THEN 1.0 ELSE 0.5 END
                 + least(swr * 5.0, 1.0)) / 4.0 >= 0.7
               THEN 1.0 ELSE 0.0 END AS DOUBLE) AS label,
          TRUE AS acc_ok
        FROM s ORDER BY doc_id
    """,
    "enrichment": r"""
        WITH flat AS (
          SELECT lang AS sample, source AS category FROM documents
          WHERE lang IS NOT NULL AND source IS NOT NULL
        ),
        per_sample AS (SELECT sample, category, COUNT(*) AS sample_count FROM flat GROUP BY 1, 2),
        sample_totals AS (SELECT sample, COUNT(*) AS sample_total FROM flat GROUP BY 1),
        global_counts AS (SELECT category, COUNT(*) AS global_count FROM flat GROUP BY 1),
        tot AS (SELECT COUNT(*)::DOUBLE AS gt FROM flat),
        cells AS (
          SELECT ps.sample, ps.category, ps.sample_count, st.sample_total,
                 gc.global_count, t.gt,
                 ps.sample_count AS a,
                 gc.global_count AS r1,
                 st.sample_total AS c1,
                 CAST(t.gt AS BIGINT) AS n
          FROM per_sample ps
          JOIN sample_totals st USING (sample)
          JOIN global_counts gc USING (category)
          CROSS JOIN tot t
          WHERE gc.global_count >= 3
        ),
        hyp AS (
          SELECT *, GREATEST(0, r1 + c1 - n) AS kmin,
                 list_transform(generate_series(GREATEST(0, r1 + c1 - n), LEAST(r1, c1)),
                   k -> exp( lgamma(r1 + 1.0) - lgamma(k + 1.0) - lgamma(r1 - k + 1.0)
                           + lgamma(n - r1 + 1.0) - lgamma(c1 - k + 1.0)
                           - lgamma(n - r1 - c1 + k + 1.0)
                           - (lgamma(n + 1.0) - lgamma(c1 + 1.0) - lgamma(n - c1 + 1.0)) )
                 ) AS pks
          FROM cells
        ),
        fisher AS (
          SELECT sample, category,
                 (sample_count / sample_total::DOUBLE) / (global_count / gt) AS fold_change,
                 list_sum(list_filter(pks, p -> p <= pks[(a - kmin + 1)::INT] * (1.0 + 1e-7)))
                   / list_sum(pks) AS original_p_value
          FROM hyp
        ),
        sig AS (SELECT * FROM fisher WHERE original_p_value < 0.2),
        bh AS (
          SELECT *,
                 COUNT(*) OVER (PARTITION BY sample) AS nn,
                 ROW_NUMBER() OVER (PARTITION BY sample ORDER BY original_p_value, category) AS rnk
          FROM sig
        ),
        adj AS (
          SELECT sample, category, fold_change, original_p_value,
                 LEAST(1.0, MIN(original_p_value * nn / rnk) OVER (
                    PARTITION BY sample ORDER BY original_p_value DESC, category DESC
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)) AS adjusted_p_value
          FROM bh
        )
        SELECT sample, category, ROUND(fold_change, 4) AS fold_change,
               ROUND(original_p_value, 6) AS p, ROUND(adjusted_p_value, 6) AS p_adj
        FROM adj WHERE adjusted_p_value < 0.2
        ORDER BY sample, p_adj, category
    """,
    "text_stats": """
        SELECT doc_id,
               LENGTH(text) AS nchars,
               CASE WHEN LENGTH(TRIM(text)) = 0 THEN 0
                    ELSE len(regexp_split_to_array(TRIM(text), '\\s+')) END
                   AS n_tokens_ws,
               len(regexp_extract_all(text,
                   '\\s*(?:[A-Za-z]+|\\d{1,3}|[^\\sA-Za-z\\d]+)')) AS n_tokens_bpe,
               ROUND((LENGTH(text) - LENGTH(regexp_replace(text, '[^\\w\\s]', '', 'g')))
                     / CAST(LENGTH(text) AS DOUBLE), 6) AS p_ratio
        FROM documents ORDER BY doc_id
    """,
    "text_lang_facet": """
        SELECT lang, COUNT(*) AS count FROM documents
        GROUP BY lang ORDER BY count DESC, lang ASC LIMIT 100
    """,
    "derived_projection": """
        SELECT c_custkey AS id, UPPER(c_name) AS name_u,
               ROUND(c_acctbal * 2, 2) AS balance_2x
        FROM customer WHERE c_mktsegment = 'BUILDING' ORDER BY id
    """,
    "rule_inference": """
        SELECT o_orderkey,
               CASE WHEN o_totalprice < 300000.0 THEN 'small'
                    ELSE CASE WHEN o_totalprice >= 300000.0 THEN 'big' END
               END AS tier_pred,
               ROUND(o_totalprice / 1000, 0) AS price_k_pred
        FROM orders ORDER BY o_orderkey
    """,
    "embedding_stats": """
        SELECT label,
               COUNT(*) AS n_vectors,
               ROUND(AVG(nrm), 6) AS mean_norm,
               ROUND(STDDEV_SAMP(nrm), 6) AS std_norm,
               ROUND(MIN(nrm), 6) AS min_norm,
               ROUND(MAX(nrm), 6) AS max_norm
        FROM (
            SELECT label,
                   sqrt(list_sum(list_transform(CAST(embedding AS DOUBLE[]),
                                                x -> x * x))) AS nrm
            FROM embeddings
        )
        GROUP BY label ORDER BY label
    """,
    "lag_lead": """
        SELECT user_id, event_id,
               ROUND(LAG(value) OVER w, 2) AS v_lag,
               ROUND(LEAD(value) OVER w, 2) AS v_lead
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
        ORDER BY user_id, event_id
    """,
    "join_topk_revenue": """
        SELECT o_orderkey,
               ROUND(SUM(l_extendedprice * (1 - l_discount)), 2) AS revenue
        FROM customer
        JOIN orders ON c_custkey = o_custkey
        JOIN lineitem ON o_orderkey = l_orderkey
        WHERE c_mktsegment = 'BUILDING'
        GROUP BY o_orderkey
        ORDER BY revenue DESC, o_orderkey ASC
        LIMIT 10
    """,
    "rolling_1h": """
        SELECT event_id, user_id,
               COUNT(*) OVER w AS n_1h,
               ROUND(SUM(value) OVER w, 2) AS sum_value_1h
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY epoch(ts)
                     RANGE BETWEEN 3600 PRECEDING AND CURRENT ROW)
        ORDER BY event_id
    """,
    "resample_hourly": """
        WITH agged AS (
          SELECT event_type,
                 (FLOOR(epoch(ts)/3600)*3600)::BIGINT AS bucket_ts,
                 COUNT(*) AS n, SUM(value) AS sum_value
          FROM events GROUP BY 1, 2
        ),
        grid AS (
          SELECT event_type,
                 UNNEST(generate_series(MIN(bucket_ts), MAX(bucket_ts), 3600))
                     AS bucket_ts
          FROM agged GROUP BY event_type
        )
        SELECT g.event_type, g.bucket_ts,
               COALESCE(a.n, 0) AS n,
               ROUND(COALESCE(a.sum_value, 0), 2) AS sum_value
        FROM grid g LEFT JOIN agged a
          ON g.event_type = a.event_type AND g.bucket_ts = a.bucket_ts
        ORDER BY g.event_type, g.bucket_ts
    """,
    "resample_ffill": """
        WITH agged AS (
          SELECT event_type,
                 (FLOOR(epoch(ts)/3600)*3600)::BIGINT AS bucket_ts,
                 SUM(value) AS sum_value
          FROM events GROUP BY 1, 2
        ),
        grid AS (
          SELECT event_type,
                 UNNEST(generate_series(MIN(bucket_ts), MAX(bucket_ts), 3600))
                     AS bucket_ts
          FROM agged GROUP BY event_type
        )
        SELECT event_type, bucket_ts, ROUND(sum_value, 2) AS sum_value FROM (
          SELECT g.event_type, g.bucket_ts,
                 last_value(a.sum_value IGNORE NULLS) OVER (
                   PARTITION BY g.event_type ORDER BY g.bucket_ts
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW
                 ) AS sum_value
          FROM grid g LEFT JOIN agged a
            ON g.event_type = a.event_type AND g.bucket_ts = a.bucket_ts
        ) ORDER BY event_type, bucket_ts
    """,
    "asof_join": """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             v AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'view')
        SELECT p.event_id, p.user_id, v.event_id AS event_id_view,
               ROUND(v.value, 2) AS view_value
        FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        ORDER BY p.event_id
    """,
    "topn_per_group": """
        SELECT event_type, rn, event_id, ROUND(value, 2) AS value FROM (
            SELECT event_type, event_id, value,
                   ROW_NUMBER() OVER (PARTITION BY event_type
                                      ORDER BY value DESC, event_id DESC) AS rn
            FROM events
        ) WHERE rn <= 3 ORDER BY event_type, rn
    """,
    "asof_tolerance": """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             v AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'view')
        SELECT p.event_id, p.user_id,
               CASE WHEN epoch(p.ts - v.ts) <= 600
                    THEN v.event_id END AS event_id_view,
               CASE WHEN epoch(p.ts - v.ts) <= 600
                    THEN ROUND(v.value, 2) END AS view_value
        FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts <= p.ts
        ORDER BY p.event_id
    """,
    "asof_forward": """
        WITH p AS (SELECT event_id, user_id, ts FROM events
                   WHERE event_type = 'purchase'),
             v AS (SELECT event_id, user_id, ts, value FROM events
                   WHERE event_type = 'view')
        SELECT p.event_id, p.user_id, v.event_id AS event_id_view,
               ROUND(v.value, 2) AS view_value
        FROM p ASOF LEFT JOIN v ON p.user_id = v.user_id AND v.ts >= p.ts
        ORDER BY p.event_id
    """,
    "correlation_by_type": """
        SELECT event_type,
               ROUND(corr(EXTRACT(hour FROM ts) * 3600
                          + EXTRACT(minute FROM ts) * 60
                          + EXTRACT(second FROM ts), value), 6) AS pearson_r
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "sessionize": """
        SELECT user_id, CAST(SUM(new_s) AS BIGINT) AS n_sessions FROM (
            SELECT user_id,
                   CASE WHEN LAG(ts) OVER w IS NULL
                             OR ts > LAG(ts) OVER w + INTERVAL 30 MINUTE
                        THEN 1 ELSE 0 END AS new_s
            FROM events
            WINDOW w AS (PARTITION BY user_id ORDER BY ts ASC)
        ) GROUP BY user_id ORDER BY user_id
    """,
    "ann_knn_join": """
        WITH l AS (
            SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
            FROM embeddings WHERE vec_id < 50
        ), r AS (
            SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
            FROM embeddings WHERE vec_id >= 50
        ), scored AS (
            SELECT left_id, right_id,
                   list_cosine_similarity(lv, rv) AS raw_score,
                   ROW_NUMBER() OVER (
                       PARTITION BY left_id
                       ORDER BY list_cosine_similarity(lv, rv) DESC, right_id ASC
                   ) AS rank
            FROM l, r
        )
        SELECT left_id, right_id, ROUND(raw_score, 4) AS score, rank
        FROM scored WHERE rank <= 3 ORDER BY left_id, rank
    """,
    "find_matches": """
        WITH l AS (
            SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
            FROM embeddings WHERE vec_id < 50
        ), r AS (
            SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
            FROM embeddings WHERE vec_id >= 50
        ), scored AS (
            SELECT left_id, right_id,
                   list_cosine_similarity(lv, rv) AS raw_score,
                   ROW_NUMBER() OVER (
                       PARTITION BY left_id
                       ORDER BY list_cosine_similarity(lv, rv) DESC, right_id ASC
                   ) AS rank
            FROM l, r
        )
        SELECT left_id, right_id, ROUND(raw_score, 4) AS score, rank
        FROM scored WHERE rank <= 3 ORDER BY left_id, rank
    """,
    "find_matches_euclidean": """
        WITH l AS (
            SELECT vec_id AS left_id, CAST(embedding AS DOUBLE[]) AS lv
            FROM embeddings WHERE vec_id < 50
        ), r AS (
            SELECT vec_id AS right_id, CAST(embedding AS DOUBLE[]) AS rv
            FROM embeddings WHERE vec_id >= 50
        ), scored AS (
            SELECT left_id, right_id,
                   list_distance(lv, rv) AS raw_score,
                   ROW_NUMBER() OVER (
                       PARTITION BY left_id
                       ORDER BY list_distance(lv, rv) ASC, right_id ASC
                   ) AS rank
            FROM l, r
        )
        SELECT left_id, right_id, ROUND(raw_score, 4) AS score, rank
        FROM scored WHERE rank <= 3 ORDER BY left_id, rank
    """,
    "groupby_objects": """
        SELECT c_mktsegment,
               COUNT(*) AS n_objects,
               MIN(c_custkey) AS min_key
        FROM customer GROUP BY c_mktsegment ORDER BY c_mktsegment
    """,
    "text_search": """
        WITH scored AS (
            SELECT doc_id,
                   (len(list_intersect(
                        list_distinct(string_split_regex(lower(text), '[^a-z0-9]+')),
                        ['spark', 'merge', 'window'])) / 3.0) * 1.01 AS raw
            FROM documents
        )
        SELECT doc_id, ROUND(raw, 6) AS score FROM scored
        WHERE raw > 0 ORDER BY raw DESC, doc_id ASC LIMIT 10
    """,
    "graph_traverse": """
        SELECT 's:' || s_suppkey AS start, 'r:' || n_regionkey AS "end"
        FROM supplier JOIN nation ON s_nationkey = n_nationkey
        WHERE s_suppkey < 100
        ORDER BY start, "end"
    """,
    "json_extract": """
        SELECT event_type,
               COUNT(*) AS n,
               CAST(SUM(CAST(props ->> '$.k' AS BIGINT)) AS BIGINT) AS sum_k,
               MAX(CAST(props ->> '$.k' AS BIGINT)) AS max_k
        FROM events GROUP BY event_type ORDER BY event_type
    """,
    "histogram": """
        SELECT bin,
               ROUND(0.0 + bin * 25000.0, 6) AS lo,
               ROUND(0.0 + (bin + 1) * 25000.0, 6) AS hi,
               COUNT(*) AS count
        FROM (
            SELECT LEAST(CAST(FLOOR(o_totalprice / 25000.0) AS INT), 19) AS bin
            FROM orders
            WHERE o_totalprice IS NOT NULL
              AND o_totalprice >= 0.0 AND o_totalprice <= 500000.0
        ) GROUP BY bin ORDER BY bin
    """,
    "heatmap": """
        SELECT o_orderstatus, o_orderpriority, COUNT(*) AS count
        FROM orders GROUP BY 1, 2 ORDER BY 1, 2
    """,
    "boxplot_stats": """
        SELECT l_returnflag,
               COUNT(l_quantity) AS n,
               ROUND(quantile_cont(l_quantity, 0.0), 6) AS whisker_lo,
               ROUND(quantile_cont(l_quantity, 0.25), 6) AS q1,
               ROUND(quantile_cont(l_quantity, 0.5), 6) AS median,
               ROUND(quantile_cont(l_quantity, 0.75), 6) AS q3,
               ROUND(quantile_cont(l_quantity, 1.0), 6) AS whisker_hi
        FROM lineitem GROUP BY l_returnflag ORDER BY l_returnflag
    """,
    "collection_api": """
        SELECT o_orderkey, o_totalprice FROM orders
        WHERE o_orderstatus = 'F' AND o_totalprice >= 200000.0
        ORDER BY o_totalprice DESC, o_orderkey ASC
        LIMIT 20 OFFSET 5
    """,
    "facet_multivalued": """
        SELECT name_words, COUNT(*) AS count FROM (
            SELECT unnest(string_split(p_name, ' ')) AS name_words FROM part
        ) GROUP BY name_words
        ORDER BY count DESC, name_words ASC LIMIT 100
    """,
    "set_ops": """
        SELECT c_custkey AS k FROM customer WHERE c_mktsegment = 'BUILDING'
        INTERSECT
        SELECT DISTINCT o_custkey AS k FROM orders WHERE o_totalprice >= 400000.0
        ORDER BY k
    """,
    "multimodal_audio": """
        WITH params AS (
          SELECT * FROM (VALUES (0,220),(1,440),(2,880),(3,1760)) p(media_id, hz)
        ),
        x AS (
          SELECT media_id, t.t AS t,
                 LEAST(GREATEST(ROUND(SIN(2*PI()*hz*t.t/8000.0)*32767.0),
                                -32768), 32767) / 32768.0 AS v
          FROM params, LATERAL (SELECT unnest(range(4000)) AS t) t
        ),
        z AS (
          SELECT media_id, t, v,
                 CASE WHEN v < 0 THEN 1 ELSE 0 END AS sb,
                 lag(CASE WHEN v < 0 THEN 1 ELSE 0 END)
                     OVER (PARTITION BY media_id ORDER BY t) AS psb
          FROM x
        )
        SELECT media_id,
               8000 AS sample_rate,
               ROUND(4000 / 8000.0, 6) AS duration_s,
               ROUND(SQRT(AVG(v*v)), 6) AS rms,
               ROUND(AVG(CASE WHEN psb IS NULL THEN NULL
                              ELSE ABS(sb - psb) END), 6) AS zcr
        FROM z GROUP BY media_id ORDER BY media_id
    """,
    "multimodal_real_decode": """
        WITH dims AS (
          SELECT i, 16 + (i % 4) * 8 AS w, 12 + (i % 3) * 8 AS h
          FROM (SELECT unnest(range(16)) AS i)
        ),
        px AS (
          SELECT d.i,
                 ((x.x * 7 + d.i) % 256)
                 + ((y.y * 5 + 2 * d.i) % 256)
                 + ((x.x + y.y + 3 * d.i) % 256) AS s
          FROM dims d,
               LATERAL (SELECT unnest(range(d.w)) AS x) x,
               LATERAL (SELECT unnest(range(d.h)) AS y) y
        )
        SELECT i AS media_id,
               ROUND(SUM(s)::DOUBLE / (COUNT(*) * 3), 6) AS mean_pixel
        FROM px GROUP BY i ORDER BY i
    """,
    "multimodal_jpeg": """
        WITH blocks AS (
          SELECT i.i, ((i.i * 31 + bx.bx * 17 + by.by * 29) % 256) AS v
          FROM (SELECT unnest(range(16)) AS i) i,
               (SELECT unnest(range(4)) AS bx) bx,
               (SELECT unnest(range(3)) AS by) by
        )
        SELECT i AS media_id,
               ROUND(AVG(v::DOUBLE), 6) AS mean_pixel
        FROM blocks GROUP BY i ORDER BY i
    """,
    "multimodal_gif": """
        -- 16x16x3 image: background (i*37)%256 everywhere except the 8x8
        -- inner square whose channels are ((i*53)%256, 0, 255); GIF is
        -- lossless so the decoded mean is this exact integer arithmetic
        SELECT i AS media_id,
               ROUND((((256 - 64) * 3 * ((i * 37) % 256))::DOUBLE
                      + 64 * (((i * 53) % 256) + 0 + 255))
                     / (256 * 3), 6) AS mean_pixel
        FROM (SELECT unnest(range(12)) AS i) ORDER BY i
    """,
    "multimodal_features": """
        SELECT doc_id AS media_id,
               'image' AS kind,
               CAST(octet_length(encode(text)) AS BIGINT) AS payload_bytes,
               CAST(16 AS INTEGER) AS n_features
        FROM documents
    """,
    "multimodal_frames": """
        SELECT doc_id AS media_id,
               CAST(unnest(generate_series(0, 1000 + (doc_id % 7) * 500, 500))
                    AS INTEGER) AS frame_ts
        FROM documents
    """,
    "ann_ivf": """
        WITH q AS (
            SELECT CAST(embedding AS DOUBLE[]) AS qv FROM embeddings WHERE vec_id = 1
        )
        SELECT vec_id,
               ROUND(list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv), 4) AS score
        FROM embeddings e, q
        WHERE e.vec_id != 1
        ORDER BY list_cosine_similarity(CAST(e.embedding AS DOUBLE[]), q.qv) DESC,
                 e.vec_id ASC
        LIMIT 10
    """,
    "quantiles_by_priority": """
        SELECT o_orderpriority,
               ROUND(quantile_cont(o_totalprice, 0.25), 2) AS p25,
               ROUND(quantile_cont(o_totalprice, 0.50), 2) AS p50,
               ROUND(quantile_cont(o_totalprice, 0.75), 2) AS p75,
               CAST(COUNT(*) AS BIGINT) AS n
        FROM orders
        GROUP BY o_orderpriority
    """,
    "range_join_error_clicks": """
        SELECT c.user_id AS user_id, CAST(COUNT(*) AS BIGINT) AS n_pairs
        FROM events c
        JOIN events e
          ON c.user_id = e.user_id
         AND e.event_type = 'error'
         AND c.event_type = 'click'
         AND c.ts >= e.ts
         AND c.ts <= e.ts + INTERVAL 10 MINUTE
        GROUP BY c.user_id
        ORDER BY user_id
    """,
    "rollup_multigrain": """
        WITH base AS (
          SELECT date_trunc('hour', ts) AS h, date_trunc('day', ts) AS d,
                 value
          FROM events
        )
        SELECT CASE WHEN GROUPING(h) = 0 THEN 'hour'
                    WHEN GROUPING(d) = 0 THEN 'day'
                    ELSE 'total' END AS grain,
               COALESCE(strftime(COALESCE(h, d), '%Y-%m-%d %H:%M:%S'), 'ALL')
                 AS bucket,
               CAST(COUNT(*) AS BIGINT) AS n,
               ROUND(SUM(value), 2) AS sum_value
        FROM base
        GROUP BY GROUPING SETS ((h), (d), ())
        ORDER BY grain, bucket
    """,
    "sketch_distinct_users": """
        SELECT event_type, TRUE AS within_5pct
        FROM events
        GROUP BY event_type
        ORDER BY event_type
    """,
    "keyword_filter": """
        SELECT doc_id,
               CAST(len(regexp_extract_all(text, '(?i)\\b(spark|batch)\\b'))
                    AS BIGINT) AS n_blocked,
               len(regexp_extract_all(text, '(?i)\\b(spark|batch)\\b')) <= 2
                 AS keep
        FROM documents ORDER BY doc_id
    """,
    "tfidf_terms": """
        WITH terms AS (
          SELECT doc_id, t.t AS term
          FROM documents,
               LATERAL unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS t(t)
          WHERE length(t.t) >= 2
        ),
        tf AS (SELECT doc_id, term, COUNT(*) AS tf FROM terms GROUP BY 1, 2),
        dfreq AS (SELECT term, COUNT(*) AS df FROM tf GROUP BY 1),
        n AS (SELECT COUNT(DISTINCT doc_id) AS n FROM documents),
        scored AS (
          SELECT tf.doc_id, tf.term, tf.tf, dfreq.df,
                 tf.tf * ln(n.n * 1.0 / dfreq.df) AS tfidf
          FROM tf JOIN dfreq USING (term) CROSS JOIN n
        )
        SELECT doc_id, rank, term, tf, df, ROUND(tfidf, 6) AS tfidf FROM (
          SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id
                                       ORDER BY tfidf DESC, term ASC) AS rank
          FROM scored
        ) WHERE rank <= 3 ORDER BY doc_id, rank
    """,
    "contamination": """
        WITH tok AS (
          SELECT doc_id,
                 list_filter(string_split_regex(lower(text), '\\s+'),
                             x -> x <> '') AS toks
          FROM documents
        ),
        test_g AS (
          SELECT DISTINCT doc_id,
                 array_to_string(list_slice(toks, CAST(i.i AS BIGINT),
                                            CAST(i.i AS BIGINT) + 7), ' ') AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) i
          WHERE doc_id % 2 = 1 AND len(toks) >= 8
        ),
        train_g AS (
          SELECT DISTINCT
                 array_to_string(list_slice(toks, CAST(i.i AS BIGINT),
                                            CAST(i.i AS BIGINT) + 7), ' ') AS g
          FROM tok, LATERAL (SELECT unnest(range(1, len(toks) - 6)) AS i) i
          WHERE doc_id % 2 = 0 AND len(toks) >= 8
        ),
        tot AS (SELECT doc_id, COUNT(*) AS n_ngrams FROM test_g GROUP BY doc_id),
        hit AS (SELECT doc_id, COUNT(*) AS n_contaminated
                FROM test_g SEMI JOIN train_g USING (g) GROUP BY doc_id)
        SELECT t.doc_id, t.n_ngrams, h.n_contaminated,
               ROUND(h.n_contaminated * 1.0 / t.n_ngrams, 6) AS contamination_frac
        FROM tot t JOIN hit h USING (doc_id)
        ORDER BY t.doc_id
    """,
    "lm_quality": """
        WITH t AS (SELECT doc_id, lower(text) AS tx FROM documents),
        big AS (
          SELECT substr(tx, CAST(i.i AS INTEGER), 2) AS bigram
          FROM t, LATERAL (SELECT unnest(range(1, length(tx))) AS i) i
          WHERE length(tx) >= 2
        ),
        model AS (SELECT bigram, COUNT(*) AS cnt FROM big GROUP BY bigram),
        prefix AS (SELECT substr(bigram, 1, 1) AS c1, SUM(cnt) AS pcnt
                   FROM model GROUP BY 1),
        v AS (SELECT COUNT(*) AS v FROM (
                SELECT DISTINCT c FROM (
                  SELECT substr(bigram, 1, 1) AS c FROM model
                  UNION ALL SELECT substr(bigram, 2, 1) FROM model))),
        docb AS (
          SELECT doc_id, substr(tx, CAST(i.i AS INTEGER), 2) AS bigram
          FROM t, LATERAL (SELECT unnest(range(1, length(tx))) AS i) i
          WHERE length(tx) >= 2
        )
        SELECT doc_id,
               ROUND(AVG(ln((COALESCE(m.cnt, 0) + 1)
                            / (COALESCE(p.pcnt, 0) + v.v))), 6) AS lm_score
        FROM docb
        LEFT JOIN model m USING (bigram)
        LEFT JOIN prefix p ON substr(docb.bigram, 1, 1) = p.c1
        CROSS JOIN v
        GROUP BY doc_id ORDER BY doc_id
    """,
    "stratified_sample": """
        SELECT doc_id, lang FROM documents
        WHERE substr(md5(CAST(doc_id AS VARCHAR) || 'strat' || lang), 1, 8)
              < '80000000'
        ORDER BY doc_id
    """,
    "cap_per_source": """
        SELECT doc_id, source, n_chars FROM (
            SELECT doc_id, source, n_chars,
                   ROW_NUMBER() OVER (
                     PARTITION BY source
                     ORDER BY substr(md5(CAST(doc_id AS VARCHAR) || 'cap'), 1, 8),
                              doc_id
                   ) AS rn
            FROM documents
        ) WHERE rn <= 5 ORDER BY doc_id
    """,
    "hash_split_documents": """
        WITH s AS (
          SELECT n_chars,
                 substr(md5(CAST(doc_id AS VARCHAR) || ''), 1, 8) AS u
          FROM documents
        )
        SELECT CASE WHEN u < 'cccccccc' THEN 'train'
                    WHEN u < 'e6666666' THEN 'val'
                    ELSE 'test' END AS split,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(n_chars) AS BIGINT) AS sum_chars
        FROM s
        GROUP BY 1
        ORDER BY split
    """,
    "corpus_mix_counts": """
        WITH m AS (
          SELECT source,
                 substr(md5(CAST(doc_id AS VARCHAR) || 'mix' || source), 1, 8)
                   AS u
          FROM documents
        )
        SELECT source, CAST(COUNT(*) AS BIGINT) AS n
        FROM m
        WHERE source = 'src0'
           OR (source = 'src1' AND u < '80000000')
           OR (source = 'src2' AND u < '40000000')
           OR (source NOT IN ('src0', 'src1', 'src2') AND u < '19999999')
        GROUP BY source
        ORDER BY source
    """,
    "scrub_documents": r"""
        WITH salted AS (
          SELECT doc_id,
                 text || ' contact u' || doc_id || '@example.com at 10.0.0.'
                      || (doc_id % 255) AS text
          FROM documents
        )
        SELECT doc_id,
               md5(
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                   text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}',
                   '[EMAIL]', 'g'),
                   '\b(?:\d{1,3}\.){3}\d{1,3}\b', '[IP]', 'g'),
                   '\b\d{3}-\d{2}-\d{4}\b', '[SSN]', 'g'),
                   '\+?\b\d{3}[-. ]\d{3}[-. ]\d{4}\b', '[PHONE]', 'g')
               ) AS scrubbed_md5,
               CAST(
                 length(regexp_extract_all(text,
                   '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}'))
                 + length(regexp_extract_all(text,
                   '\b(?:\d{1,3}\.){3}\d{1,3}\b'))
                 AS INT) AS n_pii
        FROM salted
        ORDER BY doc_id
    """,
    "cohort_retention": """
        WITH fst AS (
          SELECT user_id, date_trunc('week', MIN(ts)) AS cohort
          FROM events GROUP BY 1
        ),
        act AS (
          SELECT DISTINCT user_id, date_trunc('week', ts) AS p FROM events
        ),
        j AS (
          SELECT a.user_id, f.cohort,
                 CAST(date_diff('day', f.cohort, a.p) / 7 AS INT) AS off
          FROM act a JOIN fst f USING (user_id)
        ),
        ret AS (
          SELECT cohort, off, COUNT(DISTINCT user_id) AS n
          FROM j GROUP BY 1, 2
        ),
        base AS (SELECT cohort, n AS b FROM ret WHERE off = 0)
        SELECT strftime(r.cohort, '%Y-%m-%d') AS cohort,
               r.off AS "offset",
               CAST(r.n AS BIGINT) AS n_users,
               ROUND(CAST(r.n AS DOUBLE) / b.b, 6) AS retention
        FROM ret r JOIN base b USING (cohort)
        ORDER BY cohort, "offset"
    """,
    "funnel_view_click_purchase": """
        WITH s1 AS (
          SELECT user_id, MIN(ts) AS t FROM events
          WHERE event_type = 'view' GROUP BY 1
        ),
        s2 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s1 USING (user_id)
          WHERE e.event_type = 'click' AND e.ts > s1.t GROUP BY 1
        ),
        s3 AS (
          SELECT e.user_id, MIN(e.ts) AS t
          FROM events e JOIN s2 USING (user_id)
          WHERE e.event_type = 'purchase' AND e.ts > s2.t GROUP BY 1
        ),
        n AS (
          SELECT (SELECT COUNT(*) FROM s1) AS n1,
                 (SELECT COUNT(*) FROM s2) AS n2,
                 (SELECT COUNT(*) FROM s3) AS n3
        )
        SELECT 1 AS step_idx, 'view' AS step,
               CAST(n1 AS BIGINT) AS n_users,
               ROUND(1.0, 6) AS conversion FROM n
        UNION ALL
        SELECT 2, 'click', CAST(n2 AS BIGINT),
               ROUND(CAST(n2 AS DOUBLE) / n1, 6) FROM n
        UNION ALL
        SELECT 3, 'purchase', CAST(n3 AS BIGINT),
               ROUND(CAST(n3 AS DOUBLE) / n1, 6) FROM n
        ORDER BY step_idx
    """,
    "fuzzy_join_names": """
        WITH l AS (
          SELECT n_nationkey AS id, lower(trim(n_name)) AS s FROM nation
        ),
        r AS (
          SELECT n_nationkey + 100 AS id, lower(trim(n_name || ' CO')) AS s
          FROM nation
        ),
        lg AS (
          SELECT DISTINCT id, substr(s, i, 3) AS g
          FROM (SELECT id, s,
                  unnest(generate_series(1, greatest(length(s) - 2, 1))) AS i
                FROM l)
        ),
        rg AS (
          SELECT DISTINCT id, substr(s, i, 3) AS g
          FROM (SELECT id, s,
                  unnest(generate_series(1, greatest(length(s) - 2, 1))) AS i
                FROM r)
        ),
        lsz AS (SELECT id, COUNT(*) AS n FROM lg GROUP BY 1),
        rsz AS (SELECT id, COUNT(*) AS n FROM rg GROUP BY 1),
        inter AS (
          SELECT lg.id AS lid, rg.id AS rid, COUNT(*) AS c
          FROM lg JOIN rg ON lg.g = rg.g
          GROUP BY 1, 2
        )
        SELECT lid AS left_id, rid AS right_id,
               ROUND(CAST(c AS DOUBLE) / (lsz.n + rsz.n - c), 6) AS jaccard
        FROM inter
        JOIN lsz ON lsz.id = lid
        JOIN rsz ON rsz.id = rid
        WHERE CAST(c AS DOUBLE) / (lsz.n + rsz.n - c) >= 0.4
        ORDER BY left_id, right_id
    """,
    "normalize_documents": """
        SELECT doc_id,
               md5(
                 trim(regexp_replace(regexp_replace(
                   nfc_normalize(text || ' café\tnaïve  x'),
                   '[\\x00-\\x08\\x0b\\x0c\\x0e-\\x1f\\x7f]', '', 'g'),
                   '[ \t]+', ' ', 'g'))
               ) AS norm_md5
        FROM documents
        ORDER BY doc_id
    """,
    "domain_stats": r"""
        WITH salted AS (
          SELECT doc_id,
                 text || ' see https://' || source || '.example.org/p/'
                      || doc_id AS text
          FROM documents
        ),
        urls AS (
          SELECT doc_id,
                 unnest(regexp_extract_all(text,
                   'https?://[A-Za-z0-9.-]+(?::\d+)?(?:/[^\s"''<>]*)?')) AS u
          FROM salted
        ),
        doms AS (
          SELECT doc_id,
                 lower(regexp_extract(u, 'https?://([A-Za-z0-9.-]+)', 1))
                   AS domain
          FROM urls
        )
        SELECT domain,
               CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_docs,
               CAST(COUNT(*) AS BIGINT) AS n_mentions
        FROM doms
        WHERE domain IS NOT NULL AND domain <> ''
        GROUP BY domain
        ORDER BY domain
    """,
    "robust_outliers": """
        WITH med AS (
          SELECT event_type, median(value) AS m FROM events GROUP BY 1
        ),
        mad AS (
          SELECT e.event_type, median(abs(e.value - med.m)) AS mad
          FROM events e JOIN med USING (event_type) GROUP BY 1
        )
        SELECT e.event_type,
               CAST(SUM(CASE WHEN
                 (CASE WHEN mad.mad * 1.4826 > 0
                       THEN abs(e.value - med.m) / (mad.mad * 1.4826) > 3.5
                       ELSE abs(e.value - med.m) > 0 END)
                 THEN 1 ELSE 0 END) AS BIGINT) AS n_outliers,
               CAST(COUNT(*) AS BIGINT) AS n_total,
               ROUND(MAX(med.m), 4) AS median_value
        FROM events e
        JOIN med USING (event_type)
        JOIN mad USING (event_type)
        GROUP BY e.event_type
        ORDER BY e.event_type
    """,
    "repetition_stats": r"""
        WITH base AS (
          SELECT doc_id, text,
                 string_split(text, chr(10)) AS lines,
                 string_split_regex(lower(trim(text)), '\s+') AS l
          FROM documents
        ),
        toks AS (
          SELECT doc_id, unnest(l) AS tok FROM base
        ),
        tok_counts AS (
          SELECT doc_id, tok, COUNT(*) AS n FROM toks GROUP BY 1, 2
        ),
        tok_max AS (
          SELECT doc_id, MAX(n) AS maxn, SUM(n) AS tot
          FROM tok_counts GROUP BY 1
        ),
        grams_raw AS (
          SELECT doc_id, l,
                 unnest(generate_series(1, len(l) - 1)) AS i
          FROM base
        ),
        gram_counts AS (
          SELECT doc_id, l[i] || ' ' || l[i + 1] AS gram, COUNT(*) AS n
          FROM grams_raw GROUP BY 1, 2
        ),
        gram_max AS (
          SELECT doc_id, MAX(n) AS maxn, SUM(n) AS tot
          FROM gram_counts GROUP BY 1
        )
        SELECT b.doc_id,
               ROUND(1.0 - CAST(len(list_distinct(b.lines)) AS DOUBLE)
                         / len(b.lines), 6) AS dup_line_frac,
               ROUND(COALESCE(CAST(g.maxn AS DOUBLE) / g.tot, 0.0), 6)
                 AS top_bigram_frac,
               ROUND(CAST(t.maxn AS DOUBLE) / t.tot, 6) AS top_token_frac
        FROM base b
        LEFT JOIN tok_max t USING (doc_id)
        LEFT JOIN gram_max g USING (doc_id)
        ORDER BY doc_id
    """,
    "connected_components": """
        WITH per_cust AS (
          SELECT o_custkey, COUNT(*) AS size FROM orders GROUP BY o_custkey
        )
        SELECT CAST(size AS BIGINT) AS size,
               CAST(COUNT(*) AS BIGINT) AS n_components
        FROM per_cust
        GROUP BY size
        ORDER BY size
    """,
    "chunk_documents": """
        SELECT doc_id,
               CAST(s / 384 AS BIGINT) AS chunk_idx,
               md5(substr(text, s + 1, 512)) AS chunk_md5,
               CAST(length(substr(text, s + 1, 512)) AS INT) AS chunk_len
        FROM (
          SELECT doc_id, text,
                 unnest(generate_series(0, greatest(length(text) - 1, 0), 384))
                   AS s
          FROM documents
          WHERE length(text) > 0
        )
        ORDER BY doc_id, chunk_idx
    """,
    # pack_sequences (single-shard demo): DuckDB replays the exact greedy
    # next-fit recurrence of operators/packing.py over the same 64-token
    # chunks in cid order with a recursive CTE. State before each row is
    # (pack, pos, used); a row that would overflow a NON-EMPTY pack opens
    # a new one first; a pack reaching >= budget closes immediately.
    "pack_sequences": r"""
        WITH RECURSIVE tok AS (
          SELECT doc_id,
                 len(regexp_extract_all(text,
                     '\s*(?:[A-Za-z]+|\d{1,3}|[^\sA-Za-z\d]+)')) AS n
          FROM documents
        ),
        chunks AS (
          SELECT CAST(doc_id AS VARCHAR) || '_' || CAST(s // 64 AS VARCHAR)
                   AS cid,
                 least(64, n - s) AS nt
          FROM (SELECT doc_id, n,
                       unnest(generate_series(0, greatest(n - 1, 0), 64)) AS s
                FROM tok WHERE n > 0)
        ),
        ord AS (
          SELECT cid, nt, row_number() OVER (ORDER BY cid) AS rn FROM chunks
        ),
        rec AS (
          SELECT rn, nt,
                 CAST(0 AS BIGINT) AS emit_pack,
                 CASE WHEN nt >= 256 THEN CAST(1 AS BIGINT)
                      ELSE CAST(0 AS BIGINT) END AS post_pack,
                 CASE WHEN nt >= 256 THEN 0 ELSE nt END AS post_used,
                 CASE WHEN nt >= 256 THEN 0 ELSE 1 END AS post_pos
          FROM ord WHERE rn = 1
          UNION ALL
          SELECT o.rn, o.nt,
                 r.post_pack + CASE WHEN r.post_pos > 0
                                     AND r.post_used + o.nt > 256
                                    THEN 1 ELSE 0 END,
                 r.post_pack
                   + CASE WHEN r.post_pos > 0 AND r.post_used + o.nt > 256
                          THEN 1 ELSE 0 END
                   + CASE WHEN (CASE WHEN r.post_pos > 0
                                      AND r.post_used + o.nt > 256
                                     THEN 0 ELSE r.post_used END) + o.nt >= 256
                          THEN 1 ELSE 0 END,
                 CASE WHEN (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 256
                                 THEN 0 ELSE r.post_used END) + o.nt >= 256
                      THEN 0
                      ELSE (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 256
                                 THEN 0 ELSE r.post_used END) + o.nt END,
                 CASE WHEN (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 256
                                 THEN 0 ELSE r.post_used END) + o.nt >= 256
                      THEN 0
                      ELSE (CASE WHEN r.post_pos > 0
                                  AND r.post_used + o.nt > 256
                                 THEN 0 ELSE r.post_pos END) + 1 END
          FROM rec r JOIN ord o ON o.rn = r.rn + 1
        )
        SELECT emit_pack AS pack_id,
               CAST(COUNT(*) AS BIGINT) AS n_chunks,
               CAST(SUM(nt) AS BIGINT) AS tokens
        FROM rec GROUP BY emit_pack ORDER BY pack_id
    """,
}


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0."""
    return q_groupby_tpch_q1(spark, "/root/testdata/sf0.001")


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    return dict(QUERIES)


def oracle_sql() -> dict[str, str]:
    return dict(ORACLES)
