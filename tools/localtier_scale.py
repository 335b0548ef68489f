"""Local-vs-JVM crossover ladder for the local tier's per-class row caps.

Builds synthetic single-table stores at increasing row counts and times
the SAME call shapes through the driver-local Arrow executor and the
distributed JVM plan. Each shape belongs to one routing class of
``localexec.LOCAL_TIER_CAPS``:

    count_eq, count_range  -> count   (filtered counts)
    topk                   -> page    (top-10 sort page)
    agg                    -> agg     (grouped aggregate)
    facet                  -> facet   (single-column facet)
    knn                    -> knn     (exact cosine top-10, 8-d vectors)

Both tiers are measured directly, whatever the caps say: the caps are
lifted for the run, result memos and cached page plans are dropped before
every timed call, and each side is best-of-3 after one warm call.

Usage: python tools/localtier_scale.py [rows ...]   (default ladder)

Emits one JSON line per (rows, shape) with local/jvm best-of-3 seconds,
then one summary line per class: the largest rung at which the local
tier won every shape of the class on this box, next to the shipped cap.
A class's cap must not exceed that rung on any measured box.
"""

from __future__ import annotations

import json
import os
import sys
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from linkml_store_spark.database import Database  # noqa: E402
from linkml_store_spark.facets import query_facets  # noqa: E402
from linkml_store_spark.operators import localexec as lx  # noqa: E402
from linkml_store_spark.query import Query  # noqa: E402
from linkml_store_spark.session import get_spark  # noqa: E402

LADDER = [int(x) for x in sys.argv[1:]] or [1_000_000, 5_000_000, 10_000_000]

DIM = 8
QV = [float(i + 1) for i in range(DIM)]

#: shape -> (routing class, Query or None for the non-Query shapes)
SHAPES = {
    "count_eq": ("count", Query(where_clause={"cat": "c3"}, limit=0)),
    "count_range": ("count", Query(where_clause={"v": {"$gte": 100.0, "$lt": 400.0}}, limit=0)),
    "topk": ("page", Query(sort_by=["-v"], select_cols=["id", "v"], limit=10)),
    "agg": ("agg", Query(group_by=["cat"], aggs={"n": ("count", None), "s": ("sum", "v")}, limit=-1)),
    "facet": ("facet", None),
    "knn": ("knn", None),
}


def build_store(spark, base, rows):
    db = Database(spark, handle=f"spark://{base}/wh{rows}", location=f"{base}/wh{rows}")
    coll = db.create_collection("t", identifier_attribute="id")
    if not coll.exists():
        df = spark.range(rows).select(
            F.col("id"),
            (F.pmod(F.xxhash64("id"), F.lit(1000)).cast("double")).alias("v"),
            F.concat(F.lit("c"), F.pmod(F.xxhash64("id", F.lit(7)), F.lit(8)).cast("string")).alias("cat"),
            F.array(*[
                (F.pmod(F.xxhash64("id", F.lit(100 + d)), F.lit(997)) + 1).cast("double")
                for d in range(DIM)
            ]).alias("emb"),
        )
        coll.insert(df.repartition(max(1, rows // 4_000_000)))
    coll.df
    coll.auto_index_threshold = 10**12  # time the brute plan, not a probe
    return coll


def runners(coll, shape, q):
    """(run_local, run_jvm) for one shape on one store."""
    metas = coll._store_metas()
    files = [fp for fp, _md in metas]
    schema = coll._local_tier_gate(SHAPES[shape][0])[0]
    if shape == "facet":
        return (
            lambda: lx.local_facets(files, schema, lambda c: None, ["cat"], 100, 1),
            lambda: query_facets(coll.df, None, ["cat"], 100, 1),
        )
    if shape == "knn":
        return (
            lambda: lx.local_knn(files, schema, "emb", QV, 10),
            lambda: coll.knn(QV, "emb", k=10).collect(),
        )
    plan = coll._local_tier_plan(q)
    return (plan, lambda: coll._query_spark(q))


def fresh(fn, coll):
    """``fn`` run from dropped result memos, page plans and store image: a
    memo hit or a re-executed cached Dataset (whose shuffle output Spark
    reuses) would time a lookup, not the query, and each local call pays
    its column reads as the first read after a write does (the facet and
    kNN shapes read a transient image of the files every call)."""
    def run():
        memos = coll._version.memos
        for k in [k for k, v in memos.items()
                  if k[0] in ("count", "vcount", "image")
                  or isinstance(v, DataFrame)]:
            del memos[k]
        fn()
    return run


def best_of(fn, n=3):
    b = float("inf")
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        b = min(b, time.perf_counter() - t0)
    return b


def main():
    spark = get_spark(app_name="localtier-scale", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    base = os.environ.get("LT_SCALE_DIR", "/tmp/lt_scale")
    shipped = dict(lx.LOCAL_TIER_CAPS)
    # measure both tiers at every rung, whatever the shipped caps say
    lx.LOCAL_TIER_CAPS = {k: 10**12 for k in shipped}
    lx.LOCAL_TIER_MAX_BYTES = 1 << 40
    won = {cls: True for cls in shipped}
    largest = {cls: None for cls in shipped}
    for rows in LADDER:
        coll = build_store(spark, base, rows)
        rung = {cls: True for cls in shipped}
        for shape, (cls, q) in SHAPES.items():
            local, jvm = (fresh(f, coll) for f in runners(coll, shape, q))
            local(); jvm()  # warm
            t_local = best_of(local)
            t_jvm = best_of(jvm)
            rung[cls] = rung[cls] and t_local < t_jvm
            print(json.dumps({
                "rows": rows, "shape": shape, "class": cls,
                "local_s": round(t_local, 4), "jvm_s": round(t_jvm, 4),
                "local_wins": t_local < t_jvm,
            }), flush=True)
        for cls in shipped:
            # a class's cap is a rung won from the bottom of the ladder up
            won[cls] = won[cls] and rung[cls]
            if won[cls]:
                largest[cls] = rows
    for cls, cap in shipped.items():
        print(json.dumps({
            "class": cls, "largest_local_win_rows": largest[cls],
            "shipped_cap": cap, "box_cpus": os.cpu_count(),
        }), flush=True)


if __name__ == "__main__":
    main()
