"""Benchmark entry point.

    python3 perfbench/run.py --workload interactive_store --seed 1 \
        --seconds 10 --trace 0

Runs one workload in one fresh process on ``local[nproc]`` against a
store (or corpus) built from ``--seed`` in a fresh directory, measures
for ``--seconds`` after warm-up, checks the answers, and prints one JSON
object as the last line of stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

``--trace 0`` reports the end-to-end metrics of BENCHMARK.json,
``--trace 1`` the per-layer metrics (spans, Spark stage tables and the
full report are written under ``.perfbench_out/``).  ``--smoke`` shrinks
every input so a run takes seconds; ``perfbench/smoke.py`` uses it.
Workloads and metrics are described in ``perfbench/README.md``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
WORKLOADS = ("interactive_store", "corpus_pipeline")

#: sizing: store tables at this fraction of sf0.1, warm-up rounds of 20
#: reads, corpus documents (full, warm-up slice)
SIZES = {
    "full": {"scale": 0.25, "warm_rounds": 6, "corpus_docs": 1000,
             "corpus_warm_docs": 300},
    "smoke": {"scale": 0.005, "warm_rounds": 0, "corpus_docs": 120,
              "corpus_warm_docs": 60},
}
DRIVER_MEMORY = "3g"


def _args(argv):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOADS)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--smoke", action="store_true")
    return ap.parse_args(argv)


def _pin_env(rundir: str) -> None:
    """Run hygiene: core count, heap, and every scratch location inside
    this run's own directory."""
    ncpu = len(os.sched_getaffinity(0))
    tmp = os.path.join(rundir, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(ncpu)
    os.environ["SPARK_DRIVER_MEMORY"] = DRIVER_MEMORY
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(rundir, "spark-local")
    os.environ["TMPDIR"] = tmp
    # every JVM of the run (the launcher too): scratch files in the run's
    # directory, no hsperfdata file under the system temp directory
    os.environ["JAVA_TOOL_OPTIONS"] = (
        f"-XX:-UsePerfData -Djava.io.tmpdir={tmp} -Dderby.system.home={tmp}")
    os.environ.setdefault("PYSPARK_PYTHON", sys.executable)


class Context:
    """What a workload needs from the harness: the session, the tracer,
    sizing, and the timed-phase bookkeeping."""

    def __init__(self, args, rundir, spark, tracer, sizes):
        self.spark, self.sc, self.tracer = spark, spark.sparkContext, tracer
        self.seed, self.seconds, self.rundir = args.seed, args.seconds, rundir
        self.scale = sizes["scale"]
        self.warm_rounds = sizes["warm_rounds"]
        self.corpus_docs = sizes["corpus_docs"]
        self.corpus_warm_docs = sizes["corpus_warm_docs"]
        self.timed_start = self.timed_wall = None
        self._cpu0 = None
        self.phases = {}
        self.calls = []

    def phase(self, name: str) -> None:
        """Record when a set-up phase ended, in seconds since process
        start."""
        self.phases[name] = time.time() - probe.process_start_time()

    def mark_timed_start(self) -> None:
        self._cpu0 = probe.cpu_seconds(probe.process_tree())
        self._steal0 = probe.steal_s()
        self.timed_start = time.time()
        self.t0 = time.perf_counter()

    def mark_timed_end(self) -> float:
        """End of the timed phase; returns the CPU seconds (driver, JVM
        and its Python workers) spent in it, read once around the phase."""
        self.timed_wall = time.perf_counter() - self.t0
        self.steal_share = (probe.steal_s() - self._steal0) / (
            self.timed_wall * len(os.sched_getaffinity(0)))
        after = probe.cpu_seconds(probe.process_tree())
        self.cpu_split = {
            "driver": after.get(os.getpid(), 0.0) - self._cpu0.get(os.getpid(), 0.0)
        }
        total = probe.cpu_delta_s(self._cpu0, after)
        self.cpu_split["jvm_and_workers"] = total - self.cpu_split["driver"]
        # peak memory so far: before the correctness replay adds its own
        self.rss_mb = {"driver": probe.peak_rss_mb(os.getpid()),
                       "jvm": probe.peak_rss_mb(probe.jvm_pid())}
        return total

    def verdicts(self, store) -> dict:
        """The remembered local-vs-JVM tier verdict per (collection, call
        class), from the public ``ab_winner``."""
        import pyarrow.parquet as pq

        from linkml_store_spark.operators.arrowagg import ab_winner
        from linkml_store_spark.operators.localexec import local_tier_column

        pairs = {"lineitem": ["count", "facet", "agg"],
                 "orders": ["count", "page", "facet", "agg"],
                 "events": ["agg"], "embeddings": ["knn"]}
        out = {}
        for coll, kinds in pairs.items():
            files = store.files(coll)
            total = sum(pq.ParquetFile(f).metadata.num_rows for f in files)
            for kind in kinds:
                w = ab_winner(self.spark, files, local_tier_column(kind),
                              total_rows=total)
                out[f"{coll}/{kind}"] = w or "none"
        return out


def _stop_children() -> None:
    """Terminate every process this run started and wait for each."""
    kids = probe.process_tree()[1:]
    for pid in kids:
        try:
            os.kill(pid, signal.SIGTERM)
        except ProcessLookupError:
            pass
    deadline = time.time() + 20
    while time.time() < deadline:
        for pid in kids:
            try:
                os.waitpid(pid, os.WNOHANG)
            except ChildProcessError:
                pass
        alive = [p for p in kids if probe.is_running(p)]
        if not alive:
            return
        time.sleep(0.1)
    for pid in kids:
        try:
            os.kill(pid, signal.SIGKILL)
        except ProcessLookupError:
            pass
        try:
            os.waitpid(pid, 0)
        except ChildProcessError:
            pass


def main(argv=None) -> int:
    args = _args(argv)
    # a terminated run still stops its children and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(143))
    if not os.path.isfile(os.path.join(ROOT, "linkml_store_spark", "__init__.py")):
        print("perfbench: linkml_store_spark not found next to perfbench/",
              file=sys.stderr)
        return 2
    with open(os.path.join(ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)
    sizes = SIZES["smoke" if args.smoke else "full"]
    rundir = os.path.join(ROOT, ".perfbench_run",
                          f"{args.workload}-{args.seed}-{os.getpid()}")
    outdir = os.path.join(ROOT, ".perfbench_out",
                          f"{args.workload}-seed{args.seed}-trace{args.trace}")
    shutil.rmtree(rundir, ignore_errors=True)
    os.makedirs(rundir)
    _pin_env(rundir)
    sys.path.insert(0, ROOT)
    t_start = probe.process_start_time()
    try:
        result = _run(args, rundir, sizes)
    finally:
        _stop_children()
        shutil.rmtree(rundir, ignore_errors=True)
    result["detail"]["setup_s"] = result["head"]["setup_s"] = (
        result.pop("timed_start") - t_start)
    _report(args, spec, result, outdir)
    return 0


def _run(args, rundir, sizes) -> dict:
    from linkml_store_spark.session import get_spark

    steal0 = probe.steal_s()

    spark = get_spark(
        app_name="perfbench",
        extra_conf={
            "spark.sql.warehouse.dir": os.path.join(rundir, "warehouse"),
            "spark.ui.showConsoleProgress": "false",
        },
    )
    spark.sparkContext.setLogLevel("ERROR")
    tracer = probe.Tracer(spark.sparkContext, enabled=bool(args.trace))
    ctx = Context(args, rundir, spark, tracer, sizes)
    ctx.phase("session")
    if args.workload == "corpus_pipeline":
        import corpus

        res = corpus.run(ctx)
    else:
        import store

        res = store.run(ctx)
    py_mb, jvm_mb = ctx.rss_mb["driver"], ctx.rss_mb["jvm"]
    res["detail"]["peak_rss_mb"] = py_mb + jvm_mb
    res["detail"]["steal_share_timed"] = ctx.steal_share
    res["detail"]["steal_s_total"] = probe.steal_s() - steal0
    res["timed_start"] = ctx.timed_start
    res["calls"] = ctx.calls
    n = max(res["n_ops"], 1)
    if tracer.enabled:
        pl = res["per_layer"]
        pl["driver.py_peak_rss_mb"] = py_mb
        pl["jvm.peak_rss_mb"] = jvm_mb
        pl["driver.py_cpu_ms_per_op"] = ctx.cpu_split["driver"] * 1000 / n
        pl["spark.jvm_cpu_ms_per_op"] = ctx.cpu_split["jvm_and_workers"] * 1000 / n
        timed = [s for s in tracer.spans if s["start"] >= ctx.t0
                 and s["end"] <= ctx.t0 + ctx.timed_wall]
        groups = [s["group"] for s in timed if s["group"]]
        stages = probe.stage_table(ctx.sc, groups)
        pl.update(probe.spark_totals(ctx.sc, groups, n, stages))
        self_ms = probe.Tracer.self_times_of(timed)
        pl["collection.self_ms_per_op"] = self_ms.get("collection", 0.0) / n
        pl["trace.overhead_pct"] = 100.0 * probe.span_cost_s(
            ctx.sc, len(timed)) / ctx.timed_wall
        res["trace"] = {"spans": tracer.spans, "stages": stages,
                        "self_ms": self_ms, "t0": ctx.t0}
    spark.stop()
    return res


def _verdict_diff(workload: str, verdicts: dict) -> dict:
    """Tier verdicts that differ from the newest earlier report of the
    same workload, by (collection, call class)."""
    base = os.path.join(ROOT, ".perfbench_out")
    prev = sorted(
        (os.path.getmtime(os.path.join(base, d, "report.json")), d)
        for d in os.listdir(base)
        if d.startswith(workload + "-")
        and os.path.exists(os.path.join(base, d, "report.json")))
    if not prev:
        return {}
    with open(os.path.join(base, prev[-1][1], "report.json")) as fh:
        old = json.load(fh)["detail"].get("tier_verdicts", {})
    return {k: [old.get(k), v] for k, v in verdicts.items() if old.get(k) != v}


def _report(args, spec, res, outdir) -> None:
    os.makedirs(outdir, exist_ok=True)
    names = spec["per_layer"] if args.trace else spec["end_to_end"]
    source = dict(res["head"])
    if args.trace:
        source = dict(res["per_layer"])
        source["error_rate"] = res["detail"]["error_rate"]
    metrics = {}
    for m in names:
        if m["name"] not in source:
            raise SystemExit(f"perfbench: metric {m['name']} was not measured")
        metrics[m["name"]] = {"value": float(source[m["name"]]), "unit": m["unit"]}
    report = {"workload": args.workload, "seed": args.seed,
              "seconds": args.seconds, "trace": args.trace,
              "detail": res["detail"], "per_layer": res["per_layer"],
              "calls": res["calls"]}
    report["detail"]["verdicts_differing_from_previous_run"] = _verdict_diff(
        args.workload, report["detail"].get("tier_verdicts", {}))
    with open(os.path.join(outdir, "report.json"), "w") as fh:
        json.dump(report, fh, indent=1, default=str)
    if "trace" in res:
        tr = res["trace"]
        with open(os.path.join(outdir, "spans.jsonl"), "w") as fh:
            for s in tr["spans"]:
                s = dict(s, start=s["start"] - tr["t0"], end=s["end"] - tr["t0"])
                fh.write(json.dumps(s) + "\n")
        with open(os.path.join(outdir, "stages.json"), "w") as fh:
            json.dump({"stages": tr["stages"], "self_ms": tr["self_ms"]}, fh,
                      indent=1)
    print(json.dumps({"detail": res["detail"], "per_layer": res["per_layer"]},
                     default=str))
    print(json.dumps({"correct": res["failed"] == 0,
                      "attempted": int(res["attempted"]),
                      "failed": int(res["failed"]), "metrics": metrics}))


sys.path.insert(0, HERE)
import probe  # noqa: E402

if __name__ == "__main__":
    sys.exit(main())
