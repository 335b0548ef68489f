"""Direct calls into single layers, timed from outside (traced runs only).

Each probe calls one public layer function on the run's own store files
or corpus and reports its median latency, so a change to that layer can
be seen apart from the Collection routing above it.
"""

from __future__ import annotations

import time
from typing import Callable, Dict, List

from probe import median

REPS = 7


def _p50_ms(fn: Callable[[], object], reps: int = REPS) -> float:
    fn()  # plan/JIT warm-up, untimed
    out = []
    for _ in range(reps):
        t0 = time.perf_counter()
        fn()
        out.append((time.perf_counter() - t0) * 1000)
    return median(out)


def store_layer_probes(ctx, store) -> Dict[str, float]:
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from linkml_store_spark.facets import facet_df
    from linkml_store_spark.index.search import knn
    from linkml_store_spark.operators import localexec as lx
    from linkml_store_spark.where import apply_where, compile_where

    out: Dict[str, float] = {}
    files = {n: store.files(n) for n in ("lineitem", "orders", "events",
                                         "embeddings")}
    schema = {n: pq.ParquetFile(f[0]).schema_arrow for n, f in files.items()}
    rows = {n: sum(pq.ParquetFile(x).metadata.num_rows for x in f)
            for n, f in files.items()}
    rng_where = {"l_quantity": {"$gte": 5.0, "$lt": 30.0}}
    qv = [1.0 / 8.0] * 64

    # the local (driver Arrow) tier, called on the store's files
    cond = lx.compile_where_local(rng_where, schema["lineitem"])
    ocond = lx.compile_where_local({"o_orderstatus": "F"}, schema["orders"])
    local = {
        "local_count": lambda: lx.local_count(
            files["lineitem"], schema["lineitem"], cond, rows["lineitem"]),
        "local_page": lambda: lx.local_page(
            files["orders"], schema["orders"], ocond, None, [], 40, 20),
        "local_facets": lambda: lx.local_facets(
            files["lineitem"], schema["lineitem"], lambda c: None,
            ["l_returnflag"], 100, 1),
        "local_group_agg": lambda: lx.local_group_agg(
            files["lineitem"], schema["lineitem"], cond,
            ["l_returnflag", "l_linestatus"],
            {"n": ("count", None), "s": ("sum", "l_quantity")}),
        "local_knn": lambda: lx.local_knn(
            files["embeddings"], schema["embeddings"], "embedding", qv, 10),
    }
    for name, fn in local.items():
        out[f"localexec.{name}_p50_ms"] = _p50_ms(fn)

    # the where compiler, per clause (microseconds)
    li_df = store.c["lineitem"].df
    clauses = [rng_where, {"l_returnflag": "R"},
               {"l_linenumber": {"$in": [1, 2, 3]}},
               {"l_shipdate": {"$lte": "1998-09-02 00:00:00"}}]
    t0 = time.perf_counter()
    n = 0
    for _ in range(50):
        for w in clauses:
            compile_where(w, li_df)
            n += 1
    out["where.compile_where_us"] = (time.perf_counter() - t0) / n * 1e6

    # hand-built Spark plans for the same shapes (the tier choice's worth)
    od, cu, ev, eb = (store.c[n].df for n in ("orders", "customer", "events",
                                              "embeddings"))
    twins = {
        "find": apply_where(od, {"o_orderstatus": "F"}).orderBy("o_orderkey")
        .offset(40).limit(20),
        "count": apply_where(li_df, rng_where).agg(F.count(F.lit(1))),
        "facet": facet_df(li_df, None, "l_returnflag"),
        "agg": apply_where(li_df, {"l_shipdate": {"$lte": "1998-09-02 00:00:00"}})
        .groupBy("l_returnflag", "l_linestatus")
        .agg(F.sum("l_quantity"),
             F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))),
             F.count(F.lit(1))),
        "join_agg": od.join(F.broadcast(cu), od.o_custkey == cu.c_custkey)
        .groupBy("c_mktsegment").agg(F.sum("o_totalprice")),
        "max_by": apply_where(ev, {"event_type": "click"}).groupBy("user_id")
        .agg(F.max_by("event_id", F.struct("ts", "event_id"))),
        "rollup": ev.groupBy(F.date_trunc("hour", "ts"), "event_type")
        .agg(F.count(F.lit(1)), F.sum("value")),
        "topk": od.select("o_orderkey", "o_totalprice")
        .orderBy(F.col("o_totalprice").desc()).limit(10),
        "knn": knn(eb, qv, vector_col="embedding", k=10, keep_vector=False),
    }
    for name, df in twins.items():
        out[f"raw_twin.{name}_p50_ms"] = _p50_ms(df.collect, reps=5)
    return out


CORPUS_STAGES = [
    ("normalize", "normalize_documents"),
    ("scrub", "scrub_documents"),
    ("textanalysis", "repetition_stats"),
    ("dedup", "verify"),
    ("spandedup", "dedup_spans_keep_first"),
    ("splits", "hash_split"),
    ("chunking", "chunk_by_tokens"),
    ("packing", "pack_sequences"),
    ("quality_model", "train_quality_classifier"),
    ("fingerprint", "fingerprint_overlap"),
    ("dedup", "ngram_jaccard_pairs"),
]


def corpus_stage_probes(ctx, docs, cfg, max_freq: int,
                        jaccard_threshold: float) -> Dict[str, float]:
    """``<module>.<fn>_s``: each corpus stage once on a checkpointed input
    (the docs frame), materialized with ``count()``."""
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.chunking import chunk_by_tokens
    from linkml_store_spark.operators.dedup import (
        exact_jaccard_sets,
        lsh_candidate_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        shingle_hash_sets,
    )
    from linkml_store_spark.operators.fingerprint import fingerprint_overlap
    from linkml_store_spark.operators.normalize import normalize_documents
    from linkml_store_spark.operators.packing import pack_sequences
    from linkml_store_spark.operators.quality_model import (
        train_quality_classifier,
        weak_quality_labels,
    )
    from linkml_store_spark.operators.scale import stage_checkpoint
    from linkml_store_spark.operators.scrub import scrub_documents
    from linkml_store_spark.operators.spandedup import dedup_spans_keep_first
    from linkml_store_spark.operators.splits import hash_split
    from linkml_store_spark.operators.textanalysis import repetition_stats

    tc, ic = cfg.text_col, cfg.id_col
    base = stage_checkpoint(docs)
    split = stage_checkpoint(hash_split(base, ic, cfg.split_fractions))
    chunks = stage_checkpoint(
        chunk_by_tokens(split, tc, chunk_tokens=cfg.chunk_tokens).select(
            F.concat_ws("#", F.col(ic).cast("string"), F.col("chunk_idx"))
            .alias("chunk_id"), "n_tokens"))

    def verify():
        sig = minhash_signatures(base, tc, ic, cfg.minhash_permutations)
        cand = lsh_candidate_pairs(sig, ic, cfg.minhash_permutations, cfg.lsh_bands)
        sets = shingle_hash_sets(base, tc, ic)
        return (cand.join(sets.select(F.col(ic).alias("left_id"),
                                      F.col("shingle_hashes").alias("__hl")),
                          "left_id")
                .join(sets.select(F.col(ic).alias("right_id"),
                                  F.col("shingle_hashes").alias("__hr")),
                      "right_id")
                .filter(exact_jaccard_sets(F.col("__hl"), F.col("__hr"))
                        >= cfg.dedup_verify_threshold).count())

    calls: List = [
        lambda: normalize_documents(base, tc).count(),
        lambda: scrub_documents(base, tc, with_counts=False).count(),
        lambda: repetition_stats(base, tc, ic).count(),
        verify,
        lambda: dedup_spans_keep_first(base, tc, ic, k=cfg.span_dedup_k).count(),
        lambda: hash_split(base, ic, cfg.split_fractions).count(),
        lambda: chunk_by_tokens(split, tc, chunk_tokens=cfg.chunk_tokens).count(),
        lambda: pack_sequences(chunks, "chunk_id", "n_tokens",
                               budget=cfg.pack_budget,
                               num_partitions=cfg.pack_partitions).count(),
        lambda: train_quality_classifier(
            weak_quality_labels(base, tc, "label", 0.5), tc, "label"),
        lambda: fingerprint_overlap(base, tc, ic, max_freq=max_freq).count(),
        lambda: ngram_jaccard_pairs(base, tc, ic,
                                    threshold=jaccard_threshold).count(),
    ]
    out = {}
    for (mod, fn), call in zip(CORPUS_STAGES, calls):
        with ctx.tracer.span(f"{mod}.{fn}", mod):
            t0 = time.perf_counter()
            call()
            out[f"{mod}.{fn}_s"] = time.perf_counter() - t0
    return out
