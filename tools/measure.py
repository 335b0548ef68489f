"""One measurement harness for the query registry and the local tier.

Subcommands::

    sf --src DIR --out DIR [--copies N]
        FK-consistent N-fold replica of an SF directory.
    sweep --sf DIR [--repo DIR] [--runs N] [--plans DIR] [query ...]
        Build, plan, warm, time and count registry queries in one session,
        with a stage table and a driver/JVM/worker CPU split per query.
    ladder [rows ...]
        Local-tier against Spark crossover per routing class.
    ab --parent DIR --change DIR [--pairs N] -- <sweep args>
        Interleaved A/B of two trees, each sweep in a fresh process.

The Spark tier is forced with ``SPARK_GRAFT_LOCAL_TIER=0`` and the core
count set with ``SPARK_GRAFT_CPUS``, as for any ``get_spark`` session.

The other tools load the registry through :func:`load_registry`, so a copy
of the repository (for example a ``git archive`` of a parent commit)
checks its own registry and package.
"""

from __future__ import annotations

import argparse
import importlib.util
import json
import math
import os
import re
import statistics
import subprocess
import sys
import time

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def load_registry(repo: str = ROOT):
    """``repo``'s ``__spark_entry__`` module, with ``repo`` first on
    ``sys.path`` so that the package the registry imports is that tree's
    own."""
    repo = os.path.abspath(repo)
    sys.path.insert(0, repo)
    spec = importlib.util.spec_from_file_location(
        "spark_entry", os.path.join(repo, "__spark_entry__.py")
    )
    m = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(m)
    return m


# ---------------------------------------------------------------- sf

# per table: (key-offset projection, row-group size).  Offsets use a step
# far above the table's max key at sf0.1; FK columns share the parent's
# step, so orders->customer and lineitem->orders/part/supplier stay joined.
K = 1_000_000      # customer / supplier / part / events step
OK = 6_000_000     # order-key step (> max l_orderkey at sf0.1)
SF_TABLES = {
    "region": (None, None),
    "nation": (None, None),
    "customer": (
        f"c_custkey + i.i * {K} AS c_custkey, c_name, c_nationkey, "
        "c_acctbal, c_mktsegment",
        50_000,
    ),
    "supplier": (
        f"s_suppkey + i.i * {K} AS s_suppkey, s_name, s_nationkey, s_acctbal",
        10_000,
    ),
    "part": (
        f"p_partkey + i.i * {K} AS p_partkey, p_name, p_brand, p_type, "
        "p_size, p_retailprice",
        50_000,
    ),
    "orders": (
        f"o_orderkey + i.i * {OK} AS o_orderkey, "
        f"o_custkey + i.i * {K} AS o_custkey, "
        "o_orderstatus, o_totalprice, o_orderdate, o_orderpriority",
        200_000,
    ),
    "lineitem": (
        f"l_orderkey + i.i * {OK} AS l_orderkey, "
        f"l_partkey + i.i * {K} AS l_partkey, "
        f"l_suppkey + i.i * {K} AS l_suppkey, "
        "l_linenumber, l_quantity, l_extendedprice, l_discount, l_tax, "
        "l_returnflag, l_linestatus, l_shipdate",
        1_000_000,
    ),
    "events": (
        f"event_id + i.i * {K} AS event_id, ts, "
        f"user_id + i.i * {K} AS user_id, event_type, value, props",
        100_000,
    ),
    "documents": (
        "doc_id + i.i * 10000 AS doc_id, text, lang, source, n_chars",
        5_000,
    ),
    "embeddings": (
        "vec_id + i.i * 2000 AS vec_id, embedding, label",
        20_000,
    ),
}


def make_sf(src: str, out: str, copies: int) -> None:
    """Write ``copies`` copies of every table the registry reads from
    ``src`` (an sf0.1 directory) into ``out``, keys offset per copy.

    Copy 0 keeps sf0.1's keys, so literal predicates baked into registry
    queries (key probes, the ``vec_id = 0`` kNN query vector) still match.
    Documents and embeddings repeat verbatim apart from ids: a
    duplicate-heavy corpus, the worst case for the dedup family. Each
    table is written in row groups small enough (a row group is Spark's
    smallest split) that the replica fans out across cores."""
    import duckdb

    os.makedirs(out, exist_ok=True)
    if os.path.exists(f"{out}/_DONE"):
        print(out, "(cached)")
        return
    con = duckdb.connect()
    # stream the COPY: preserved insertion order materializes the whole
    # cross join in memory first
    con.execute("SET preserve_insertion_order=false")
    for t, (proj, rg) in SF_TABLES.items():
        scan = f"read_parquet('{src}/{t}.parquet')"
        if proj is None:
            con.execute(
                f"COPY (SELECT * FROM {scan}) TO '{out}/{t}.parquet' "
                "(FORMAT PARQUET)"
            )
        else:
            con.execute(
                f"COPY (SELECT {proj} FROM {scan} CROSS JOIN "
                f"(SELECT unnest(range({copies})) AS i) i) "
                f"TO '{out}/{t}.parquet' "
                f"(FORMAT PARQUET, ROW_GROUP_SIZE {rg})"
            )
        print(t, "done")
    with open(f"{out}/_DONE", "w") as f:
        f.write("ok")
    print(out)


# ---------------------------------------------------------------- sweep


def shuffle_guard(spark):
    """A callable that unregisters every shuffle's map outputs, so that
    the next action re-runs the map stages instead of reusing them.

    Raises when the driver's map-output tracker cannot be reached: a
    re-run of a shuffle-bearing plan would then time only its final
    stage."""
    try:
        tracker = spark.sparkContext._jsc.sc().env().mapOutputTracker()
        tracker.shuffleStatuses()
    except Exception as exc:  # noqa: BLE001 — re-raised with context
        raise RuntimeError(
            "shuffle guard: the map-output tracker is unreachable, so timed "
            "re-runs would reuse shuffle output"
        ) from exc

    from py4j.protocol import Py4JJavaError

    def bust():
        it = tracker.shuffleStatuses().keySet().iterator()
        while it.hasNext():
            try:
                tracker.unregisterAllMapAndMergeOutput(it.next())
            except Py4JJavaError as exc:
                # the ContextCleaner dropped the shuffle after its id was
                # read: it has no output left to reuse
                if (exc.java_exception.getClass().getName()
                        != "org.apache.spark.ShuffleStatusNotFoundException"):
                    raise

    return bust


def plan_flags(text: str) -> list[str]:
    """Red flags in a formatted physical plan: cartesian and nested-loop
    joins, Python bridges, exchanges, join kinds and a scan whose
    pushed-filter list is empty under a Filter."""
    flags = []
    if "CartesianProduct" in text:
        flags.append("CARTESIAN")
    if "BroadcastNestedLoopJoin" in text:
        flags.append("BNLJ")
    if "BatchEvalPython" in text:
        flags.append("BatchEvalPython")
    n_arrow = text.count("ArrowEvalPython")
    if n_arrow:
        flags.append(f"ArrowEvalPython x{n_arrow}")
    for node in ("MapInPandas", "FlatMapCoGroupsInPandas", "MapInArrow",
                 "FlatMapGroupsInPandas"):
        c = text.count(f" {node}")
        if c:
            flags.append(f"{node} x{c}")
    n_ex = len(re.findall(r"\bExchange\b", text))
    if n_ex:
        flags.append(f"Exchange x{n_ex}")
    n_smj = text.count("SortMergeJoin")
    if n_smj:
        flags.append(f"SortMergeJoin x{n_smj}")
    n_bhj = text.count("BroadcastHashJoin")
    if n_bhj:
        flags.append(f"BroadcastHashJoin x{n_bhj}")
    if re.search(r"PushedFilters: \[\]", text) and "Filter" in text:
        flags.append("empty-PushedFilters")
    return flags


def cpu_split(before: dict, jvm: int | None) -> dict:
    """CPU seconds, since the ``cpu_seconds(process_tree())`` snapshot
    ``before``, of this driver process, the Spark JVM ``jvm`` and the
    Python workers the JVM forks. A worker that exited in between takes
    its CPU with it."""
    from perfbench.probe import cpu_seconds, process_tree

    after = cpu_seconds(process_tree())
    delta = {pid: v - before.get(pid, 0.0) for pid, v in after.items()}
    driver = delta.pop(os.getpid(), 0.0)
    jvm_s = delta.pop(jvm, 0.0)
    return {"driver": round(driver, 3), "jvm": round(jvm_s, 3),
            "workers": round(sum(delta.values()), 3)}


def sweep(spark, entry, sf: str, names: list[str], runs: int = 2,
          plans_dir: str | None = None) -> dict:
    """Per query: build (its eager probe jobs under job group
    ``<query>:build``), optionally write the formatted plan to
    ``plans_dir/<query>.txt`` and scan it for red flags, one untimed warm
    run, then best-of-``runs`` noop-sink runs (group ``<query>:run<i>``),
    each after the shuffle guard, and last the row count.

    Returns the timings, builds, counts and errors, the plan flags, and
    for the build and the best run the stage table and CPU split."""
    from perfbench.probe import cpu_seconds, jvm_pid, process_tree, stage_table

    sc = spark.sparkContext
    bust = shuffle_guard(spark)
    jvm = jvm_pid()
    qs = entry.queries()
    doc = {"timings": {}, "builds": {}, "counts": {}, "errors": {},
           "flags": {}, "stages": {}, "cpu_s": {}}
    for name in names:
        if name not in qs:
            doc["errors"][name] = "unknown query"
            continue
        try:
            sc.setJobGroup(f"{name}:build", name)
            before = cpu_seconds(process_tree())
            t0 = time.perf_counter()
            df = qs[name](spark, sf)
            build_s = time.perf_counter() - t0
            build_cpu = cpu_split(before, jvm)
            if plans_dir is not None:
                text = df._sc._jvm.PythonSQLUtils.explainString(
                    df._jdf.queryExecution(), "formatted"
                )
                with open(os.path.join(plans_dir, f"{name}.txt"), "w") as f:
                    f.write(text)
                doc["flags"][name] = plan_flags(text)
            sc.setJobGroup(f"{name}:warm", name)
            df.write.format("noop").mode("overwrite").save()
            best, best_group, best_cpu = math.inf, None, None
            for i in range(runs):
                bust()
                group = f"{name}:run{i}"
                sc.setJobGroup(group, name)
                before = cpu_seconds(process_tree())
                t0 = time.perf_counter()
                df.write.format("noop").mode("overwrite").save()
                dt = time.perf_counter() - t0
                run_cpu = cpu_split(before, jvm)
                if dt < best:
                    best, best_group, best_cpu = dt, group, run_cpu
            sc.setJobGroup(f"{name}:count", name)
            doc["counts"][name] = df.count()
            doc["builds"][name] = round(build_s, 4)
            doc["timings"][name] = round(best, 4)
            doc["stages"][name] = {
                "build": stage_table(sc, [f"{name}:build"]),
                "run": stage_table(sc, [best_group]) if best_group else [],
            }
            doc["cpu_s"][name] = {"build": build_cpu, "run": best_cpu}
        except Exception as exc:  # noqa: BLE001 — one query's failure is recorded, the sweep goes on
            doc["errors"][name] = f"{type(exc).__name__}: {exc}"[:300]
        finally:
            sc.setJobGroup("idle", "idle")
    return doc


def cmd_sweep(args) -> None:
    # this tree's probe times every swept tree, whether or not it has one
    import perfbench.probe  # noqa: F401

    entry = load_registry(args.repo)
    from linkml_store_spark.session import get_spark

    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    spark = get_spark(app_name=f"measure-sweep-c{cpus}")
    spark.sparkContext.setLogLevel("ERROR")
    if args.plans:
        os.makedirs(args.plans, exist_ok=True)
    names = args.queries or list(entry.queries())
    doc = {
        "repo": os.path.abspath(args.repo),
        "cpus": int(cpus) if cpus.isdigit() else cpus,
        "sf": args.sf,
        "local_tier": os.environ.get("SPARK_GRAFT_LOCAL_TIER", "1"),
    }
    doc.update(sweep(spark, entry, args.sf, names, args.runs, args.plans))
    print(json.dumps(doc))


# ---------------------------------------------------------------- ladder

DIM = 8
QV = [float(i + 1) for i in range(DIM)]


def _ladder_shapes():
    """shape -> (routing class, Query or None for the non-Query shapes)."""
    from linkml_store_spark.query import Query

    return {
        "count_eq": ("count", Query(where_clause={"cat": "c3"}, limit=0)),
        "count_range": ("count", Query(where_clause={"v": {"$gte": 100.0, "$lt": 400.0}}, limit=0)),
        "topk": ("page", Query(sort_by=["-v"], select_cols=["id", "v"], limit=10)),
        "agg": ("agg", Query(group_by=["cat"], aggs={"n": ("count", None), "s": ("sum", "v")}, limit=-1)),
        "facet": ("facet", None),
        "knn": ("knn", None),
    }


def _ladder_store(spark, base, rows):
    from pyspark.sql import functions as F

    from linkml_store_spark.database import Database

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


def _ladder_runners(coll, shape, cls, q):
    """(run_local, run_jvm) for one shape on one store."""
    from linkml_store_spark.facets import query_facets
    from linkml_store_spark.operators import localexec as lx

    metas = coll._store_metas()
    files = [fp for fp, _md in metas]
    schema = coll._local_tier_gate(cls)[0][0]
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


def _fresh(fn, coll):
    """``fn`` run from dropped result memos, page plans and store image: a
    memo hit or a re-executed cached Dataset (whose shuffle output Spark
    reuses) would time a lookup, not the query, and each local call pays
    its column reads as the first read after a write does (the facet and
    kNN shapes read a transient image of the files every call)."""
    from pyspark.sql import DataFrame

    def run():
        memos = coll._version.memos
        for k in [k for k, v in memos.items()
                  if k[0] in ("count", "vcount", "image")
                  or isinstance(v, DataFrame)]:
            del memos[k]
        fn()
    return run


def _best_of(fn, n=3):
    b = math.inf
    for _ in range(n):
        t0 = time.perf_counter()
        fn()
        b = min(b, time.perf_counter() - t0)
    return b


def ladder(rows_ladder: list[int]) -> None:
    """Time the same call shapes through the driver-local Arrow executor
    and the distributed JVM plan on synthetic single-table stores of
    increasing size. Each shape belongs to one routing class of
    ``localexec.LOCAL_TIER_CAPS``; both tiers are measured whatever the
    caps say (they are lifted for the run), each side best-of-3 after one
    warm call, memos dropped before every call.

    Prints one JSON line per (rows, shape), then one per class: the
    largest rung at which the local tier won every shape of the class,
    from the bottom of the ladder up, beside the shipped cap. A class's
    cap must not exceed that rung on any measured box."""
    from linkml_store_spark.operators import localexec as lx
    from linkml_store_spark.session import get_spark

    spark = get_spark(app_name="localtier-scale", shuffle_partitions=32)
    spark.sparkContext.setLogLevel("ERROR")
    base = os.environ.get("LT_SCALE_DIR", "/tmp/lt_scale")
    shapes = _ladder_shapes()
    shipped = dict(lx.LOCAL_TIER_CAPS)
    lx.LOCAL_TIER_CAPS = {k: 10**12 for k in shipped}
    lx.LOCAL_TIER_MAX_BYTES = 1 << 40
    won = {cls: True for cls in shipped}
    largest = {cls: None for cls in shipped}
    for rows in rows_ladder:
        coll = _ladder_store(spark, base, rows)
        rung = {cls: True for cls in shipped}
        for shape, (cls, q) in shapes.items():
            local, jvm = (_fresh(f, coll) for f in _ladder_runners(coll, shape, cls, q))
            local()
            jvm()
            t_local = _best_of(local)
            t_jvm = _best_of(jvm)
            rung[cls] = rung[cls] and t_local < t_jvm
            print(json.dumps({
                "rows": rows, "shape": shape, "class": cls,
                "local_s": round(t_local, 4), "jvm_s": round(t_jvm, 4),
                "local_wins": t_local < t_jvm,
            }), flush=True)
        for cls in shipped:
            won[cls] = won[cls] and rung[cls]
            if won[cls]:
                largest[cls] = rows
    for cls, cap in shipped.items():
        print(json.dumps({
            "class": cls, "largest_local_win_rows": largest[cls],
            "shipped_cap": cap, "box_cpus": os.cpu_count(),
        }), flush=True)


# ---------------------------------------------------------------- ab


def sweep_wall(doc: dict) -> float:
    """One sweep's wall: build plus best run, summed over its queries."""
    if doc["errors"]:
        raise RuntimeError(f"sweep of {doc['repo']} failed: {doc['errors']}")
    return sum(doc["builds"].values()) + sum(doc["timings"].values())


def ab_summary(parent: list[float], change: list[float]) -> dict:
    """Medians, the parent's interquartile range, and the pairs each side
    won (pair ``i`` is ``parent[i]`` against ``change[i]``; lower wins,
    ties count for neither). ``change_gain_shown`` applies the rule for
    claiming a gain: the change wins at least nine tenths of the pairs
    and its median is lower than the parent's by more than the parent's
    IQR."""
    n = len(parent)
    q1, _, q3 = statistics.quantiles(parent, n=4, method="inclusive")
    iqr = q3 - q1
    p_med, c_med = statistics.median(parent), statistics.median(change)
    change_wins = sum(c < p for p, c in zip(parent, change))
    parent_wins = sum(p < c for p, c in zip(parent, change))
    return {
        "pairs": n,
        "parent_median": round(p_med, 4),
        "change_median": round(c_med, 4),
        "parent_iqr": round(iqr, 4),
        "parent_iqr_over_median": round(iqr / p_med, 4),
        "change_wins": change_wins,
        "parent_wins": parent_wins,
        "change_gain_shown": change_wins >= math.ceil(0.9 * n)
        and p_med - c_med > iqr,
    }


def run_sweep_process(repo: str, sweep_args: list[str]) -> dict:
    """``sweep --repo repo <sweep_args>`` in a fresh interpreter; its
    JSON document."""
    proc = subprocess.run(
        [sys.executable, os.path.abspath(__file__), "sweep", "--repo", repo,
         *sweep_args],
        capture_output=True, text=True,
    )
    lines = [ln for ln in proc.stdout.splitlines() if ln.startswith("{")]
    if proc.returncode != 0 or not lines:
        raise RuntimeError(
            f"sweep of {repo} exited {proc.returncode}: {proc.stderr[-2000:]}"
        )
    return json.loads(lines[-1])


def ab(parent: str, change: str, pairs: int, sweep_args: list[str]) -> dict:
    """``pairs`` pairs of sweeps, the parent first in even pairs and the
    change first in odd ones. Prints each pair's walls and returns the
    :func:`ab_summary`, plus the queries whose row counts differed."""
    trees = {"parent": parent, "change": change}
    walls = {"parent": [], "change": []}
    count_diffs = set()
    for i in range(pairs):
        order = ("parent", "change") if i % 2 == 0 else ("change", "parent")
        docs = {side: run_sweep_process(trees[side], sweep_args) for side in order}
        for side, doc in docs.items():
            walls[side].append(sweep_wall(doc))
        pc, cc = docs["parent"]["counts"], docs["change"]["counts"]
        count_diffs |= {q for q in pc.keys() | cc.keys() if pc.get(q) != cc.get(q)}
        print(json.dumps({
            "pair": i + 1, "first": order[0],
            "parent_s": round(walls["parent"][-1], 4),
            "change_s": round(walls["change"][-1], 4),
        }), flush=True)
    out = ab_summary(walls["parent"], walls["change"])
    out["count_diffs"] = sorted(count_diffs)
    return out


# ---------------------------------------------------------------- main


def main() -> None:
    sys.path.insert(0, ROOT)
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    sub = ap.add_subparsers(dest="cmd", required=True)

    p = sub.add_parser("sf", help="N-fold FK-consistent replica")
    p.add_argument("--src", required=True, help="sf0.1 directory")
    p.add_argument("--out", required=True)
    p.add_argument("--copies", type=int, default=10)

    p = sub.add_parser("sweep", help="time and count registry queries")
    p.add_argument("queries", nargs="*")
    p.add_argument("--sf", required=True)
    p.add_argument("--repo", default=ROOT)
    p.add_argument("--runs", type=int, default=2)
    p.add_argument("--plans", default=None,
                   help="directory for one formatted plan per query")

    p = sub.add_parser("ladder", help="local-tier crossover ladder")
    p.add_argument("rows", nargs="*", type=int,
                   default=[1_000_000, 5_000_000, 10_000_000])

    p = sub.add_parser("ab", help="interleaved A/B of two trees")
    p.add_argument("--parent", required=True)
    p.add_argument("--change", required=True)
    p.add_argument("--pairs", type=int, default=10)
    p.add_argument("sweep_args", nargs=argparse.REMAINDER)

    args = ap.parse_args()
    if args.cmd == "sf":
        make_sf(args.src, args.out, args.copies)
    elif args.cmd == "sweep":
        cmd_sweep(args)
    elif args.cmd == "ladder":
        ladder(args.rows)
    else:
        sweep_args = args.sweep_args
        if sweep_args[:1] == ["--"]:
            sweep_args = sweep_args[1:]
        print(json.dumps(ab(args.parent, args.change, args.pairs, sweep_args)))


if __name__ == "__main__":
    main()
