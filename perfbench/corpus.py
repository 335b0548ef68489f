"""The ``corpus_pipeline`` workload: batch corpus preparation.

One corpus run calls, in order, ``prepare_training_corpus`` (verified
dedup and span dedup on), ``Collection.quality_model`` on the survivors,
``fingerprint_overlap`` with ``max_freq`` and ``ngram_jaccard_pairs``.
A warm-up run on a separately generated corpus slice precedes the timed
runs.
"""

from __future__ import annotations

import os
import time
from typing import Dict, List

from linkml_store_spark import Database
from linkml_store_spark.operators.dedup import ngram_jaccard_pairs
from linkml_store_spark.operators.fingerprint import fingerprint_overlap
from linkml_store_spark.operators.pipeline import (
    CorpusConfig,
    prepare_training_corpus,
)

import check
import gen
import layers
from probe import median, pct

CONFIG = dict(dedup_verify_threshold=0.8, span_dedup_k=20)
MAX_FREQ = 50
JACCARD_THRESHOLD = 0.8
STEPS = ("pipeline.prepare_training_corpus", "collection.quality_model",
         "fingerprint.fingerprint_overlap", "dedup.ngram_jaccard_pairs")


def corpus_run(ctx, path: str, tag: str) -> dict:
    """One corpus run; returns per-step wall times and its outputs."""
    from pyspark.sql import functions as F

    spark, tracer = ctx.spark, ctx.tracer
    docs = spark.read.parquet(path)
    steps: Dict[str, float] = {}
    out: dict = {"steps": steps}

    def step(name, fn):
        layer = name.split(".")[0]
        t0 = time.perf_counter()
        with tracer.span(name, layer):
            res = fn()
        steps[name] = time.perf_counter() - t0
        return res

    def prepare():
        packed, report = prepare_training_corpus(docs, CorpusConfig(**CONFIG))
        ids = [r[0] for r in packed.select("doc_id").distinct().collect()]
        return report, ids

    t0, c0 = time.perf_counter(), time.thread_time()
    out["report"], ids = step(STEPS[0], prepare)
    db = Database(spark, location=os.path.join(ctx.rundir, f"corpus-{tag}"))
    surv = db.create_collection("survivors", identifier_attribute="doc_id")

    def quality():
        surv.insert(docs.filter(F.col("doc_id").isin(ids)))
        return surv.quality_model()

    step(STEPS[1], quality)
    out["survivors"] = len(ids)
    out["fp_pairs"] = step(STEPS[2], lambda: fingerprint_overlap(
        docs, "text", "doc_id", max_freq=MAX_FREQ).count())
    out["jaccard_pairs"] = step(STEPS[3], lambda: ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=JACCARD_THRESHOLD).count())
    out["wall"] = time.perf_counter() - t0
    out["driver_cpu"] = time.thread_time() - c0
    return out


def _checks(run: dict, counts: Dict[str, int]) -> List[str]:
    """Row account and duplicate-recall checks for one corpus run."""
    rep = run["report"]
    bad = check.corpus_account(rep, counts)
    gated = rep.get("after_quality_gate", 0)
    dedup = rep.get("after_dedup", 0)
    # identical texts always collide in every LSH band and verify at
    # J = 1, so each distinct text that passed the gate keeps exactly one
    # copy; near copies may or may not merge
    if not counts["distinct_texts"] - counts["near_dup"] <= dedup <= gated:
        bad.append(f"after_dedup {dedup} outside "
                   f"[{counts['distinct_texts'] - counts['near_dup']}, {gated}]")
    if run["survivors"] != rep.get("after_span_dedup"):
        bad.append(f"packed docs {run['survivors']} != after_span_dedup "
                   f"{rep.get('after_span_dedup')}")
    for key in ("fp_pairs", "jaccard_pairs"):
        if run[key] < counts["exact_pairs"]:
            bad.append(f"{key} {run[key]} < identical-text pairs "
                       f"{counts['exact_pairs']}")
    return bad


def run(ctx) -> dict:
    path = os.path.join(ctx.rundir, "corpus.parquet")
    warm_path = os.path.join(ctx.rundir, "corpus-warm.parquet")
    counts = gen.make_corpus(ctx.seed, ctx.corpus_docs, path)
    warm_counts = gen.make_corpus(ctx.seed + 7919, ctx.corpus_warm_docs, warm_path)

    ctx.phase("inputs")
    warm = corpus_run(ctx, warm_path, "warm")
    ctx.phase("warmup")
    errors = [f"warmup: {e}" for e in _checks(warm, warm_counts)]

    ctx.mark_timed_start()
    deadline = time.perf_counter() + ctx.seconds
    runs: List[dict] = []
    while not runs or time.perf_counter() < deadline:
        runs.append(corpus_run(ctx, path, f"t{len(runs)}"))
    cpu_s = ctx.mark_timed_end()

    failed = 0
    for r in runs:
        bad = _checks(r, counts)
        failed += bool(bad)
        errors.extend(bad)
    # the answer is a function of the seed: every timed run must agree
    sig = {(tuple(sorted(r["report"].items())), r["fp_pairs"], r["jaccard_pairs"])
           for r in runs}
    if len(sig) > 1:
        errors.append(f"timed corpus runs disagree: {sorted(sig)}")
        failed = len(runs)

    walls = [r["wall"] for r in runs]
    rep = runs[0]["report"]
    detail = {
        "driver_cpu_p50_ms": median([r["driver_cpu"] for r in runs]) * 1000,
        "docs_per_s": ctx.corpus_docs / median(walls),
        "corpus_run_s": walls,
        "first_call_ms": median([v * 1000 for v in warm["steps"].values()]),
        "first_call_ms_per_step": {k: v * 1000 for k, v in warm["steps"].items()},
        "cpu_ms_per_op": cpu_s * 1000 / len(runs),
        "error_rate": failed / len(runs),
        "timed_runs": len(runs),
        "step_s": {k: median([r["steps"][k] for r in runs]) for k in STEPS},
        "row_account": rep,
        "survivors": runs[0]["survivors"],
        "fingerprint_pairs": runs[0]["fp_pairs"],
        "jaccard_pairs": runs[0]["jaccard_pairs"],
        "corpus": dict(counts, docs=ctx.corpus_docs,
                       shares=gen.CORPUS_SHARES),
        "warm_corpus_docs": ctx.corpus_warm_docs,
        "errors": errors[:20],
        "setup_phases_s": dict(ctx.phases),
    }
    per_layer: Dict[str, float] = {}
    if ctx.tracer.enabled:
        per_layer["dedup.survivor_ratio"] = (
            rep.get("after_dedup", 0) / max(rep.get("after_quality_gate", 1), 1))
        for k, v in rep.items():
            per_layer[f"pipeline.rows.{k}"] = v
        per_layer.update(layers.corpus_stage_probes(
            ctx, ctx.spark.read.parquet(path), CorpusConfig(**CONFIG),
            MAX_FREQ, JACCARD_THRESHOLD))
    head = {"driver_cpu_p50_ms": detail["driver_cpu_p50_ms"],
            "cpu_ms_per_op": detail["cpu_ms_per_op"]}
    per_layer.update({
        "latency.p50_ms": median(walls) * 1000,
        "latency.p90_ms": pct(walls, 90) * 1000,
        "latency.first_call_ms": detail["first_call_ms"],
        "throughput.ops_per_s": detail["docs_per_s"]})
    return {"head": head, "detail": detail, "per_layer": per_layer,
            "attempted": len(runs), "failed": failed, "n_ops": len(runs)}
