"""Benchmark harness: the BASELINE.md B1-B12 workload on the Spark engine.

Runs at ``$SPARK_GRAFT_SF_DIR`` (default /root/testdata/sf0.1) on
``local[$SPARK_GRAFT_CPUS]``; prints ONE JSON line:
``{"metric": ..., "value": N, "unit": "sec", "queries": {...}, "sf": ...}``.

Methodology mirrors BASELINE.md: warm session, parquet scans (no caching /
persist — every timing includes the scan, like the DuckDB baseline's
parquet views), one warm-up run then best of 5 (``$BENCH_RUNS``) — min, not
mean, because scheduler noise on a shared box only ever adds time.

Plan reuse WITHOUT shuffle-output reuse: each query's DataFrame is
constructed ONCE and the timed region re-executes the SAME Dataset (Spark
caches the analyzed/optimized plan on the JVM Dataset, so repeat actions
skip Catalyst) — the prepared-statement analog of DuckDB re-running a
trivially-planned SQL string. At interactive latencies Catalyst's
~50-150 ms per fresh plan otherwise dominates 3-50 ms queries.

HONESTY GUARD: re-executing one Dataset also lets the scheduler SKIP
completed shuffle map stages (their map outputs stay registered), which
would silently turn "re-run the query" into "re-run only the final
stage" — scans included. ``tools/measure.py``'s ``shuffle_guard``
unregisters every registered shuffle's map outputs before each timed run
(and raises when it cannot), so every timed run re-scans parquet and
re-executes the full physical plan. (Broadcast
variables stay cached with the plan — the prepared-statement hash-table
analog.) Discovered round 3: the round-2 numbers for shuffle-bearing
queries were final-stage-only artifacts.

AQE is disabled for this workload: runtime re-planning re-optimizes per
*execution* (AdaptiveSparkPlanExec), adding a planning round plus per-stage
job boundaries that swamp sub-100 ms queries at sf0.1. At cluster scale the
same queries should run with AQE on (get_spark's default) — skew handling
and partition coalescing matter there and the constant disappears into
real work.
"""

from __future__ import annotations

import importlib.util
import json
import os
import re
import time

from pyspark.sql import functions as F

from linkml_store_spark.facets import facet_df
from linkml_store_spark.index.search import knn
from linkml_store_spark.operators.windows import argmax_per_key
from linkml_store_spark.session import get_spark
from linkml_store_spark.sources.tables import load_table
from linkml_store_spark.streaming.events import windowed_event_counts_batch
from linkml_store_spark.where import apply_where

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
RUNS = int(os.environ.get("BENCH_RUNS", "5"))


def build_queries(spark, sf, qv=None):
    # Table DataFrames are lazy plans — building them once mirrors a real
    # warehouse (file listing + schema resolution happen at registration, not
    # per query). No persist()/cache(): every timed run re-scans parquet.
    # ``qv`` injects the kNN query vector (the floor pass runs these same
    # plans over 0-row tables, where no vector exists to fetch).
    t = {
        n: load_table(spark, sf, n)
        for n in ["lineitem", "orders", "customer", "events", "embeddings"]
    }
    lineitem, orders, customer, events = (
        t["lineitem"], t["orders"], t["customer"], t["events"],
    )

    # every query is a fully-constructed Dataset; the timed fn re-executes it
    plans = {
        # b1/b2/b3/b4/b5/b6/b8 route through the Collection API below —
        # the engine DEFAULTS (LOCAL TIER on footer-small stores, zone
        # counts, stats-pruned top-k, plan cache) are what
        # the bench measures, with per-query route markers documenting
        # what engaged/refused on this layout. Raw hand-built twins are
        # timed interleaved so the API delta is a measured number.
        # b7 routes through the Query IR below (identical semantics to
        # BASELINE.md's Q1 incl. the derived sum_disc_price — the IR's
        # restricted arithmetic grammar covers it); this hand-built plan
        # stays as its raw twin
        "b7": (
            apply_where(lineitem, {"l_shipdate": {"$lte": "1998-09-02 00:00:00"}})
            .groupBy("l_returnflag", "l_linestatus")
            .agg(
                F.sum("l_quantity").alias("sum_qty"),
                F.sum("l_extendedprice").alias("sum_base_price"),
                F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))).alias(
                    "sum_disc_price"
                ),
                F.avg("l_quantity").alias("avg_qty"),
                F.avg("l_discount").alias("avg_disc"),
                F.count(F.lit(1)).alias("count_order"),
            )
        ),
        # b9: join + agg; customer is the small dim side — broadcast it so
        # the fact table never shuffles (BroadcastHashJoin at any scale
        # where the dim fits in memory)
        "b9": (
            orders.join(
                F.broadcast(customer), orders.o_custkey == customer.c_custkey
            )
            .groupBy("c_mktsegment")
            .agg(F.sum("o_totalprice").alias("revenue"))
        ),
        # b10: latest event per user — max_by aggregate (argmax_per_key),
        # partial-aggregates map-side; measured 4.5x over the row_number
        # window on skewed keys (SCALING.md). payload_cols prunes the
        # carried struct to the two output columns (Catalyst can't prune
        # inside an aggregate argument)
        "b10": argmax_per_key(
            events, "user_id", ["ts", "event_id"],
            payload_cols=["user_id", "event_id"],
        ),
        # b11: hourly time-bucket agg
        "b11": windowed_event_counts_batch(events),
    }

    # the query vector is an INPUT to kNN (the reference embeds the query
    # text first) — fetch it once outside the timed region
    emb = t["embeddings"]
    if qv is None:
        qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    # b12 routes through the eager Collection.knn_search below (LOCAL
    # TIER on footer-small stores; auto-routed IVF/brute otherwise); its
    # raw twin is the hand-built distributed brute plan — 64-d unrolls to
    # the codegen'd JVM cosine, keep_vector=False keeps the embedding
    # payload out of the TakeOrdered heaps

    # collect() = the direct fetchall() analog in the DuckDB companion
    # (Python row tuples both sides). It is measurably FASTER than
    # toPandas here: toPandas executes the plan through doExecute, so a
    # CollectLimit/TakeOrdered root materializes a single-partition SHUFFLE
    # stage (one extra job + exchange per run — found round 6 via the
    # SQLAppStatusStore metrics: the Arrow path's scan read 0 files while
    # CollectLimit read shuffle blocks), while collect() routes through
    # executeCollect (driver-side incremental take / top-k merge, no
    # shuffle). Measured in-process A/B at sf0.1: 0.84 s -> 0.81 s total,
    # with the limit-bearing b1/b8/b12 the big movers (b1 124 -> 106 ms
    # same-session). Result sizes are 10-30k rows max — pickle is not the
    # bottleneck at this fan-in.
    fns = {name: df.collect for name, df in plans.items()}
    routed, routes, busters, raw_twins, finalize_routes = _collection_routes(
        spark, sf, qv
    )
    raw_twins["b12"] = knn(
        emb, qv, vector_col="embedding", k=10, keep_vector=False
    ).select("vec_id", "label", "score").collect
    # b7/b9/b10/b11 raw twins: the hand-built distributed plans above
    for nm in ("b7", "b9", "b10", "b11"):
        raw_twins[nm] = plans[nm].collect
    fns.update(routed)
    return (
        {f"b{i}": fns[f"b{i}"] for i in range(1, 13)},  # stable b1..b12 order
        routes,
        busters,
        raw_twins,
        finalize_routes,
    )


def _collection_routes(spark, sf, qv):
    """b2/b3/b4/b8 through ``Collection.query`` — the round-5/6 verdict
    letter: the bench must measure the ENGINE DEFAULTS (zone-map counts,
    stats-pruned top-k, the prepared-plan cache), not hand-built
    DataFrames, and document which route engaged or refused on this
    layout (the driver's sf0.1 tables are one mixed row group per table,
    so every zone route refuses by design — the marker records that
    instead of hiding it).

    Returns ``(fns, routes, busters)``. ``busters`` clear RESULT memos
    (count totals) between timed runs — a timed run must recompute its
    answer like DuckDB's fetchall — while prepared PLANS and row-group
    stats persist, exactly the Dataset-reuse the raw queries get."""
    from linkml_store_spark.database import Database
    from linkml_store_spark.operators.topk import (
        range_decision,
        topk_decision,
        value_decision,
    )
    from linkml_store_spark.query import Query

    db = Database(spark, handle=f"spark://{sf}", location=sf)
    li = db.get_collection("lineitem")
    od = db.get_collection("orders")
    eb = db.get_collection("embeddings")
    ev = db.get_collection("events")
    db.get_collection("customer").df  # join side resolves once too
    li.df, od.df, eb.df, ev.df  # resolve store scans once, outside timing

    q1 = Query(where_clause={"l_returnflag": "R"}, limit=100)
    q2 = Query(where_clause={"l_returnflag": "R"}, limit=0)
    q3 = Query(where_clause={"l_quantity": {"$gte": 5.0, "$lt": 30.0}}, limit=0)
    q4 = Query(
        where_clause={"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}},
        limit=0,
    )
    q8 = Query(
        sort_by=["-o_totalprice"],
        select_cols=["o_orderkey", "o_totalprice"],
        limit=10,
    )
    # b9/b10/b11 through the join+aggregate IR (Query.join / derived
    # date_trunc keys / max_by argmax) — engine defaults: broadcast-sized
    # join side, map-side partial aggregates on the JVM path, one Arrow
    # hash aggregation on the local path
    q7 = Query(
        where_clause={"l_shipdate": {"$lte": "1998-09-02 00:00:00"}},
        group_by=["l_returnflag", "l_linestatus"],
        aggs={
            "sum_qty": ("sum", "l_quantity"),
            "sum_base_price": ("sum", "l_extendedprice"),
            "sum_disc_price": ("sum", "l_extendedprice * (1 - l_discount)"),
            "avg_qty": ("avg", "l_quantity"),
            "avg_disc": ("avg", "l_discount"),
            "count_order": ("count", None),
        },
    )
    q9 = Query(
        join={"collection": "customer", "left_on": "o_custkey",
              "right_on": "c_custkey"},
        group_by=["c_mktsegment"],
        aggs={"revenue": ("sum", "o_totalprice")},
    )
    q10 = Query(
        group_by=["user_id"],
        aggs={"event_id": ("max_by", "event_id", ("ts", "event_id"))},
        limit=-1,
    )
    q11 = Query(
        group_by=[("hour", ("date_trunc", "hour", "ts")), "event_type"],
        aggs={"n": ("count", None), "sum_value": ("sum", "value")},
        limit=-1,
    )
    fns = {
        # b1's routed form computes the Query contract's pre-pagination
        # COUNT as well as the page (the raw twin fetches only the page —
        # the routed call does strictly more work per execution)
        "b1": lambda: li.query(q1).rows,
        "b2": lambda: li.query(q2).num_rows,
        "b3": lambda: li.query(q3).num_rows,
        "b4": lambda: od.query(q4).num_rows,
        "b5": lambda: li.query_facets(None, ["l_returnflag"]),
        "b6": lambda: li.query_facets(None, [("l_returnflag", "l_linestatus")]),
        "b8": lambda: od.query(q8).rows,
        "b7": lambda: li.query(q7).rows,
        "b9": lambda: od.query(q9).rows,
        "b10": lambda: ev.query(q10).rows,
        "b11": lambda: ev.query(q11).rows,
        # b12: eager kNN — rows contract (vector dropped), k=10 cosine
        "b12": lambda: eb.knn_search(
            qv, vector_col="embedding", k=10,
            select_cols=["vec_id", "label", "score"],
        ).rows,
    }

    # RAW TWINS (round-8 verdict letter): the same four shapes as
    # hand-built Datasets, timed interleaved with the routed calls so the
    # per-query API tax (where-compile, zone decision, plan-cache key,
    # QueryResult assembly) is a measured number in the JSON
    # (routed_tax = routed - raw), not an inference from round-over-round
    # drift. Round-8 measurement: tax = -0.3 to +4 ms per call at sf0.1
    # (the round-7 b2/b3/b4 regressions were box drift).
    li_df, od_df = li.df, od.df
    raw_plans = {
        "b1": apply_where(li_df, {"l_returnflag": "R"}).limit(100),
        "b2": apply_where(li_df, {"l_returnflag": "R"}).agg(
            F.count(F.lit(1)).alias("n")
        ),
        "b5": facet_df(li_df, None, "l_returnflag"),
        "b6": facet_df(li_df, None, ("l_returnflag", "l_linestatus")),
        "b3": apply_where(
            li_df, {"l_quantity": {"$gte": 5.0, "$lt": 30.0}}
        ).agg(F.count(F.lit(1)).alias("n")),
        "b4": apply_where(
            od_df, {"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}}
        ).agg(F.count(F.lit(1)).alias("n")),
        "b8": od_df.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc())
        .limit(10),
    }
    raw_twins = {name: d.collect for name, d in raw_plans.items()}

    colls = {"lineitem": li, "orders": od}

    def value_marker(alias, col, values):
        try:
            d = value_decision(colls[alias]._zones(col), values)
        except Exception:  # noqa: BLE001
            d = None
        if d is None:
            return "zone_refused(structural) -> pushed-In scan"
        meta, und = d.answer, d.undecided
        if not und:
            return f"zone_decided_full(meta_count={meta}, zero jobs)"
        if meta:
            return f"zone_partial(meta={meta}, scan {len(und)} boundary files)"
        return (
            f"zone_undecided_all({len(und)} mixed files -> pushed-In scan; "
            "uniform layout, no collapsed row groups)"
        )

    def range_marker(alias, col, lo, hi):
        try:
            d = range_decision(colls[alias]._zones(col), lo, hi, True, False)
        except Exception:  # noqa: BLE001
            d = None
        if d is None:
            return "zone_refused(structural) -> pushed range scan"
        meta, und = d.answer, d.undecided
        if not und:
            return f"zone_decided_full(meta_count={meta}, zero jobs)"
        return (
            f"zone_partial(meta={meta}, scan {len(und)})" if meta else
            f"zone_undecided_all({len(und)} mixed files -> pushed range scan)"
        )

    def topk_marker(alias, col, k):
        try:
            d = topk_decision(colls[alias]._zones(col), k, True)
        except Exception:  # noqa: BLE001
            d = None
        if d is None:
            return "topk_prune_refused -> plain TakeOrdered"
        tau, skipped = d.answer, d.units - len(d.undecided)
        if skipped == 0:
            return (
                f"topk_tau_pushed(tau={tau:.4g}, 0/{d.units} groups skippable"
                " -> single-row-group layout, filter is a no-op)"
            )
        return f"topk_tau_pushed(tau={tau:.4g}, {skipped}/{d.units} groups skipped)"

    routes = {
        "b1": "Collection.query: find+count page",
        "b2": "Collection.query: " + value_marker("lineitem", "l_returnflag", ["R"]),
        "b3": "Collection.query: " + range_marker("lineitem", "l_quantity", 5.0, 30.0),
        "b4": "Collection.query: " + value_marker(
            "orders", "o_orderpriority", ["1-URGENT", "2-HIGH"]
        ),
        "b5": "Collection.query_facets: single column",
        "b6": "Collection.query_facets: compound",
        "b8": "Collection.query: " + topk_marker("orders", "o_totalprice", 10),
        "b7": "Collection.query: TPC-H Q1 via group_by/aggs IR",
        "b9": "Collection.query: join+agg IR (customer broadcast-sized)",
        "b10": "Collection.query: max_by argmax IR",
        "b11": "Collection.query: date_trunc hour rollup IR",
        "b12": "Collection.knn_search: exact cosine top-10",
    }

    def finalize_routes():
        # the route each query takes is static: the collection's local-tier
        # gate for the query's shape class — record it and the class cap
        from linkml_store_spark.operators.localexec import LOCAL_TIER_CAPS

        kinds = {
            "b1": "page", "b2": "count", "b3": "count", "b4": "count",
            "b5": "facet", "b6": "facet", "b7": "agg", "b8": "page",
            "b9": "agg", "b10": "agg", "b11": "agg", "b12": "knn",
        }
        for name, coll in [
            ("b1", li), ("b2", li), ("b3", li), ("b4", od),
            ("b5", li), ("b6", li), ("b7", li), ("b8", od), ("b9", od),
            ("b10", ev), ("b11", ev), ("b12", eb),
        ]:
            kind = kinds[name]
            admitted, _why = coll._local_tier_gate(kind)
            total = (coll._footer_totals() or (0, 0))[0]
            gate = f"{total} rows, {kind} cap {LOCAL_TIER_CAPS[kind]}"
            tier = (
                f"LOCAL TIER (driver Arrow, {gate})" if admitted
                else f"jvm ({gate})"
            )
            routes[name] = f"{tier} | {routes[name]}"

    # the row half of footer_totals is the unfiltered total
    result_keys = {"count", "vcount", "footer_totals"}

    def bust_result_memos():
        for c in (li, od):
            memos = c._version.memos
            for k in [k for k in memos if k[0] in result_keys]:
                del memos[k]

    return fns, routes, [bust_result_memos], raw_twins, finalize_routes


def main():
    extra = {"spark.sql.adaptive.enabled": "false"}
    # Split size: Spark's stock 128 MB. Every benchmark table is ONE parquet
    # row group (checked round 6), and a row group is Spark's minimum scan
    # granularity — sub-file splits only add dead tasks that each pay
    # file-open + footer-read (the round-3 "2 MB splits help b8" result was
    # a shuffle-output-reuse artifact of the then-unbusted harness; the
    # interleaved in-process A/B under the honest buster shows 128 MB
    # equal-or-better on every query, b1 48 -> 35 ms). Env-overridable for
    # multi-row-group layouts where sub-file splits are real parallelism.
    mpb = os.environ.get("BENCH_MAX_PARTITION_BYTES", str(128 * 1024 * 1024))
    extra["spark.sql.files.maxPartitionBytes"] = mpb
    extra["spark.sql.files.openCostInBytes"] = mpb
    # Reader batch: Spark's stock 4096. The earlier 16384 setting (measured
    # b5 82 -> 65 ms on the round-5 box) re-measured WORSE on the round-6
    # box: full-bench A/B 16384 = 1.11-1.49 s vs 4096 = 0.97 s, with even
    # the 0-ROW floor dropping 0.59 -> 0.45 s — every task allocates
    # batch-size on-heap vectors for every projected column at reader init,
    # so a 16k x 11-column batch costs ~10 ms/task before any data is read,
    # and limit-100 shapes decode 16k rows/column for 100 output rows.
    # 2048 measured neutral-to-worse (0.99 s). Env-overridable.
    extra["spark.sql.parquet.columnarReaderBatchSize"] = os.environ.get(
        "BENCH_READER_BATCH", "4096"
    )
    # get_spark's default hugeMethodLimit=8000 trades a fixed ~15-40 ms of
    # split-codegen setup per execution for JIT-compiled evaluation of wide
    # unrolled expressions — a 3-4x win for b12's 64-d cosine at 400k+ rows
    # (SCALING.md, measured under the default). sf0.1's 2000 vectors sit far
    # below that crossover (~30k rows), where only the fixed cost shows, so
    # the benchmark keeps Spark's stock 65535 here. Same per-workload-sizing
    # rationale (and env override) as the split-size knob above.
    extra["spark.sql.codegen.hugeMethodLimit"] = os.environ.get(
        "BENCH_HUGE_METHOD_LIMIT", "65535"
    )
    if os.environ.get("BENCH_MIN_PARTITION_NUM"):
        extra["spark.sql.files.minPartitionNum"] = os.environ["BENCH_MIN_PARTITION_NUM"]
    spark = get_spark(
        app_name="linkml-store-spark-bench",
        shuffle_partitions=int(os.environ.get("BENCH_SHUFFLE_PARTITIONS", "8")),
        extra_conf=extra,
    )
    spark.sparkContext.setLogLevel("ERROR")
    emb = load_table(spark, SF_DIR, "embeddings")
    qv = [float(x) for x in emb.filter(F.col("vec_id") == 0).first()["embedding"]]
    queries, routes, memo_busters, raw_twins, finalize_routes = build_queries(
        spark, SF_DIR, qv
    )

    # global warm-up pass: JVM JIT compilation of the scan/agg/codegen paths
    # is shared across queries — one full sweep first, then per-query timing
    # (mirrors BASELINE.md's "best of 5 after warm-up" methodology).
    # finalize_routes records the static route every timed run takes.
    for fn in queries.values():
        fn()
    finalize_routes()

    bust = _measure_tool().shuffle_guard(spark)

    def time_all(qs, busters=()):
        # best-of-RUNS plus the per-query [min, max] SPREAD: the round-6
        # box drifted ±25-40% same-config, so the JSON must carry the
        # drift, not just the winner (round-6 verdict letter).
        out, spreads = {}, {}
        for name, fn in qs.items():
            fn()  # per-query warm-up
            samples = []
            for _ in range(RUNS):
                bust()
                for b in busters:
                    b()  # result memos recompute per run, plans persist
                t0 = time.perf_counter()
                fn()
                samples.append(time.perf_counter() - t0)
            out[name] = round(min(samples), 4)
            spreads[name] = [round(min(samples), 4), round(max(samples), 4)]
        return out, spreads

    # INTERLEAVED same-run companion: the round-6 box drifts ±25-40%
    # within minutes ON BOTH ENGINES (SCALING.md "round-6 box
    # calibration"), so timing all twelve Spark queries and only then the
    # DuckDB set lets minutes of drift land entirely on one side of the
    # ratio. Each query now times Spark (best-of-RUNS, shuffle-busted)
    # and immediately its DuckDB twin (same best-of methodology) while
    # the box is in the same state; per-query engine order is fixed
    # (Spark first) so neither engine systematically inherits the
    # other's cache warmth.
    duck_fns = None
    try:
        duck_fns = _duckdb_companion_fns()
        for fn in duck_fns.values():  # warm-up sweep, mirrors Spark's
            fn()
    except Exception:  # noqa: BLE001 — companion is informative only
        duck_fns = None

    # PER-QUERY JOB-FLOOR PROBE (round-8 letter #4): the box's per-job
    # scheduling floor drifts 2.7x within a day, so every query's ratio
    # must carry the floor measured in the SAME seconds as its timing —
    # a 1-row 1-partition JVM count right after each query's runs.
    one_jdf = spark.range(1, numPartitions=1)._jdf
    one_jdf.count()  # warm

    def probe_floor(n=5):
        best = float("inf")
        for _ in range(n):
            t0 = time.perf_counter()
            one_jdf.count()
            best = min(best, time.perf_counter() - t0)
        return round(best, 4)

    timings = {}
    spreads = {}
    duck_timings = {}
    duck_spreads = {}
    raw_timings = {}
    floor_probes = {}
    for name, fn in queries.items():
        t, s = time_all({name: fn}, busters=memo_busters)
        timings.update(t)
        spreads.update(s)
        floor_probes[name] = probe_floor()
        if name in raw_twins:
            # raw twin interleaved RUN-BY-RUN with a re-timed routed call
            # (not block-after-block: the box drifts within seconds, and a
            # block gap showed up as a phantom 27 ms "tax" on b4) — the
            # pairwise min difference is the API tax
            rfn = raw_twins[name]
            rfn()
            raw_s, routed_s = [], []
            for _ in range(RUNS):
                bust()
                for b in memo_busters:
                    b()
                t0 = time.perf_counter()
                rfn()
                raw_s.append(time.perf_counter() - t0)
                bust()
                for b in memo_busters:
                    b()
                t0 = time.perf_counter()
                fn()
                routed_s.append(time.perf_counter() - t0)
            raw_timings[name] = round(min(raw_s), 4)
            # the paired routed min replaces the block-timed one for the
            # tax computation only (timings[name] stays the headline)
            raw_timings[name + "__routed_paired"] = round(min(routed_s), 4)
        if duck_fns is not None and name in duck_fns:
            dfn = duck_fns[name]
            dfn()
            samples = []
            for _ in range(RUNS):
                t0 = time.perf_counter()
                dfn()
                samples.append(time.perf_counter() - t0)
            duck_timings[name] = round(min(samples), 4)
            duck_spreads[name] = [
                round(min(samples), 4), round(max(samples), 4)
            ]

    # FLOOR DECOMPOSITION: the same twelve plans executed over 0-ROW tables
    # with identical schemas. NOTE: the 0-row mirror stores pass the same
    # static local-tier gate, so for LOCAL-TIER-routed shapes the floor is
    # the local tier's fixed cost, not Spark's; job_floor_per_query is the
    # per-shape Spark scheduling context. Kept for cross-round continuity.
    # What remains for JVM-routed shapes is Spark's fixed per-query cost —
    # job/stage scheduling, task launch, empty-file scan machinery, Arrow
    # collection setup — i.e. the latency floor a 3-55 ms DuckDB query is
    # compared against at sf0.1. compute = wall - floor is the data-dependent
    # work, the number that actually multiplies with scale (the replicated
    # 120M-row experiment in SCALING.md is the direct measurement of the
    # same plans where the floor has amortized away).
    floor_queries, _floor_routes, floor_busters, _floor_raw, _ff = build_queries(
        spark, _empty_mirror(spark, SF_DIR), qv
    )
    floors, _ = time_all(floor_queries, busters=floor_busters)
    compute = {
        q: round(max(0.0, timings[q] - floors.get(q, 0.0)), 4) for q in timings
    }

    # PER-JOB JVM CONSTANT: min wall of a JVM-side count() over a 1-row,
    # 1-partition Dataset — no parquet, no Python result transfer, codegen
    # cached after warm-up. This is the irreducible cost of ONE Spark job
    # on this box (DAGScheduler submit -> task launch -> run -> result;
    # py4j round-trip itself measures <1 ms). Each benchmark query runs
    # 1-3 jobs, so queries_floor ~= jobs x job_floor; the box the driver
    # runs on sets this constant (measured 5-15 ms on a fast box, ~35 ms
    # on a slow one) and no user-level code path avoids it.
    one = spark.range(1, numPartitions=1)._jdf
    one.count()
    job_floor = float("inf")
    for _ in range(15):
        t0 = time.perf_counter()
        one.count()
        job_floor = min(job_floor, time.perf_counter() - t0)

    m = re.search(r"sf([\d.]+)", SF_DIR)
    sf = float(m.group(1).rstrip(".")) if m else None
    out = {
        "metric": "baseline_b1_b12_total",
        "value": round(sum(timings.values()), 4),
        "unit": "sec",
        "queries": timings,
        "sf": sf,
        "runs": RUNS,
        "spread": spreads,
        "routes": routes,
        "floor": floors,
        "compute": compute,
        "floor_total": round(sum(floors.values()), 4),
        "compute_total": round(sum(compute.values()), 4),
        "job_floor": round(job_floor, 4),
        # the per-job floor measured immediately after EACH query's runs
        # (round-8 letter: every ratio carries its own floor so box drift
        # stops consuming a verdict cycle)
        "job_floor_per_query": floor_probes,
    }
    if raw_timings:
        # routed-vs-raw (round-8 letter): the Collection.query API tax as
        # a per-query measurement — raw twin and routed call interleaved
        # run-by-run under the same busting; tax = paired mins' difference
        base = {k: v for k, v in raw_timings.items() if "__" not in k}
        out["routed_raw"] = base
        out["routed_tax"] = {
            q: round(
                raw_timings.get(q + "__routed_paired", timings[q]) - base[q],
                4,
            )
            for q in base
        }
    # Same-run DuckDB companion (BASELINE.md's B1-B12 SQL, same warm+best-of
    # methodology, timed INTERLEAVED per query above): BASELINE.md's numbers
    # were measured on one calendar day; this box's absolute speed drifts
    # ±30-40% within minutes (measured: the identical DuckDB workload spans
    # 182-250 ms across sessions). Interleaving pins each query pair to the
    # same seconds of machine state so the ratio stays meaningful
    # regardless of when the driver runs.
    if duck_timings:
        out["duckdb_same_run"] = duck_timings
        out["duckdb_same_run_total"] = round(sum(duck_timings.values()), 4)
        out["duckdb_spread"] = duck_spreads
    # Full diagnostics line first, then a COMPACT headline line LAST: the
    # driver records only a bounded stdout tail, and since r8 the single big
    # JSON line was front-truncated past parseability ("parsed": null in
    # BENCH_r8..r10). The final line carries everything the grading needs
    # (per-query walls + same-run DuckDB twin) in well under 1 KB, so any
    # tail window or last-line parser gets a complete JSON document.
    print(json.dumps(out))
    headline = {
        "metric": out["metric"],
        "value": out["value"],
        "unit": "sec",
        "sf": sf,
        "queries": timings,
    }
    if duck_timings:
        headline["duckdb_same_run"] = duck_timings
        headline["duckdb_same_run_total"] = out["duckdb_same_run_total"]
    print(json.dumps(headline, separators=(",", ":")))


def _empty_mirror(spark, sf_dir: str) -> str:
    """A /tmp mirror of the benchmark tables with identical schemas and ZERO
    rows — executing the same plans against it isolates Spark's fixed
    per-query floor from data-dependent compute."""
    import hashlib

    out = "/tmp/spark_graft_bench_empty_" + hashlib.md5(
        sf_dir.encode()
    ).hexdigest()[:8]
    marker = os.path.join(out, "_DONE")
    if not os.path.exists(marker):
        for t in ["lineitem", "orders", "customer", "events", "embeddings"]:
            load_table(spark, sf_dir, t).limit(0).coalesce(1).write.mode(
                "overwrite"
            ).parquet(os.path.join(out, f"{t}.parquet"))
        with open(marker, "w") as f:
            f.write("ok")
    return out


def _measure_tool():
    """``tools/measure.py`` of this checkout, loaded as a module."""
    spec = importlib.util.spec_from_file_location(
        "measure", os.path.join(os.path.dirname(os.path.abspath(__file__)),
                                "tools", "measure.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


def _duckdb_companion_fns() -> dict:
    """name -> zero-arg callable running that query's DuckDB twin — the
    caller interleaves these with the Spark timings so each per-query
    ratio is measured within the same seconds of box state."""
    import duckdb

    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer", "events", "embeddings"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF_DIR}/{t}.parquet')"
        )
    qv = con.execute(
        "SELECT CAST(embedding AS DOUBLE[]) FROM embeddings WHERE vec_id=0"
    ).fetchone()[0]
    qs = {
        # b1's engine form is Collection.query(Query(where, limit=100)):
        # the reference Query contract returns num_rows = the PRE-pagination
        # match count alongside the page, so the twin must compute both —
        # a page-only twin does strictly less work (round-9 verdict: "fix
        # the twin to do the same work"). DuckDB has no single-statement
        # count+page that avoids a full window materialization, so the twin
        # is the same two logical results the engine's fused single mask
        # pass produces.
        "b1": (
            "SELECT * FROM lineitem WHERE l_returnflag='R' LIMIT 100",
            "SELECT COUNT(*) FROM lineitem WHERE l_returnflag='R'",
        ),
        "b2": "SELECT COUNT(*) FROM lineitem WHERE l_returnflag='R'",
        "b3": "SELECT COUNT(*) FROM lineitem WHERE l_quantity>=5.0 AND l_quantity<30.0",
        "b4": "SELECT COUNT(*) FROM orders WHERE o_orderpriority IN ('1-URGENT','2-HIGH')",
        "b5": "SELECT l_returnflag, COUNT(*) c FROM lineitem GROUP BY 1 ORDER BY c DESC LIMIT 100",
        "b6": "SELECT l_returnflag,l_linestatus, COUNT(*) c FROM lineitem GROUP BY 1,2 ORDER BY c DESC LIMIT 100",
        "b7": """SELECT l_returnflag,l_linestatus,SUM(l_quantity),SUM(l_extendedprice),
                 SUM(l_extendedprice*(1-l_discount)),AVG(l_quantity),AVG(l_discount),COUNT(*)
                 FROM lineitem WHERE l_shipdate<='1998-09-02' GROUP BY 1,2""",
        "b8": "SELECT o_orderkey,o_totalprice FROM orders ORDER BY o_totalprice DESC LIMIT 10",
        "b9": "SELECT c_mktsegment, SUM(o_totalprice) FROM orders JOIN customer ON o_custkey=c_custkey GROUP BY 1",
        "b10": "SELECT user_id, event_id FROM (SELECT user_id, event_id, ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY ts DESC, event_id DESC) rn FROM events) t WHERE rn=1",
        "b11": "SELECT date_trunc('hour', ts) h, event_type, COUNT(*), SUM(value) FROM events GROUP BY 1,2",
        "b12": f"SELECT vec_id, label, list_cosine_similarity(CAST(embedding AS DOUBLE[]), {qv}) s FROM embeddings ORDER BY s DESC LIMIT 10",
    }
    def _runner(q):
        if isinstance(q, tuple):
            return lambda: [con.execute(s).fetchall() for s in q]
        return lambda: con.execute(q).fetchall()

    return {name: _runner(q) for name, q in qs.items()}


if __name__ == "__main__":
    main()
