"""Oracle-compare harness: runs every __spark_entry__.queries() entry on
Spark AND its oracle_sql() on DuckDB at sf0.01, then compares row count,
column set, per-column dtype kind, and values (columns sorted by name,
rows sorted by all columns — same normalization as the round driver's
value-hash). The registry and package are this tree's own.

Usage:  python tools/oracle_compare.py [query_name ...]
Exit 0 = all match; nonzero lists mismatches.
"""

import math
import sys

import duckdb
import numpy as np
import pandas as pd
from measure import load_registry

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def norm_cell(v):
    if isinstance(v, (np.floating, float)):
        f = float(v)
        if math.isnan(f):
            return "NaN"
        return f"{f:.6g}"
    if isinstance(v, (np.integer,)):
        return str(int(v))
    if isinstance(v, (list, np.ndarray)):
        return "[" + ",".join(norm_cell(x) for x in v) + "]"
    if isinstance(v, pd.Timestamp):
        return v.isoformat()
    if v is None or v is pd.NaT or (isinstance(v, float) and math.isnan(v)):
        return "NULL"
    return str(v)


#: pandas dtype kinds that must agree between the two engines' frames;
#: i/u are interchangeable. DuckDB's SUM(BIGINT) surfaces as HUGEINT ->
#: float64 where Spark returns int64, and the driver's value-hash
#: normalizer tells "0.0" from "0", so a kind mismatch is a latent
#: hash-red row even when the values are numerically equal.
_KIND_GROUP = {"i": "int", "u": "int", "f": "float", "b": "bool",
               "M": "datetime", "m": "timedelta", "O": "obj", "S": "obj",
               "U": "obj"}


def dtype_drift(sdf: pd.DataFrame, odf: pd.DataFrame) -> dict:
    """column -> (Spark kind, DuckDB kind) for every column whose dtype
    kinds differ."""
    def kind(df, c):
        return _KIND_GROUP.get(df[c].dtype.kind, df[c].dtype.kind)

    return {c: (kind(sdf, c), kind(odf, c)) for c in sdf.columns
            if kind(sdf, c) != kind(odf, c)}


def canon(df: pd.DataFrame) -> list:
    df = df[sorted(df.columns)]
    rows = sorted(
        tuple(norm_cell(v) for v in row) for row in df.itertuples(index=False)
    )
    return rows


def differential_lsh_checks(spark) -> list:
    """Differential oracles for the three seeded-LSH queries that cannot be
    expressed in SQL (``dedup_minhash``, ``dedup_simhash``, ``dedup_groups``).
    Each is verified against an exact independent formulation at sf0.01:

    * dedup_minhash — precision: every reported pair (estimated minhash
      jaccard >= 0.5, 64 perms, sigma ~= 0.0625) must appear in the EXACT
      shingle-jaccard join at threshold 0.3 (>3 sigma of slack); recall:
      every exact pair with jaccard >= 0.9 must be reported (banding miss
      probability < 1e-7 at 16 bands of 4 rows; estimation tail < 1e-9).
    * dedup_simhash — the pigeonhole-blocked join must equal the brute-force
      all-pairs hamming filter over the SAME fingerprints (blocking with 4
      chunks is exhaustive for hamming <= 3, so equality is exact).
    * dedup_groups — cluster labels must equal large-star/small-star
      connected components (operators/graph.py) over the LSH bucket
      co-membership edges, singletons included (both label by min doc_id).
    """
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.dedup import (
        lsh_candidate_pairs,
        minhash_dedup_groups,
        minhash_dedup_pairs,
        minhash_signatures,
        ngram_jaccard_pairs,
        simhash,
        simhash_near_pairs,
    )
    from linkml_store_spark.operators.graph import connected_components
    from linkml_store_spark.sources.tables import load_table

    failures = []
    docs = load_table(spark, SF, "documents")

    # --- dedup_minhash: precision/recall envelope vs exact jaccard ------ #
    mh_pairs = {
        (r["left_id"], r["right_id"])
        for r in minhash_dedup_pairs(docs, "text", "doc_id", threshold=0.5).collect()
    }
    lo_pairs = {
        (r["left_id"], r["right_id"])
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", shingle_size=3, threshold=0.3
        ).collect()
    }
    hi_pairs = {
        (r["left_id"], r["right_id"])
        for r in ngram_jaccard_pairs(
            docs, "text", "doc_id", shingle_size=3, threshold=0.9
        ).collect()
    }
    extra = mh_pairs - lo_pairs
    missed = hi_pairs - mh_pairs
    if extra:
        failures.append(("dedup_minhash", f"{len(extra)} pairs below exact j=0.3: {sorted(extra)[:5]}"))
        print(f"FAIL dedup_minhash (differential): false pairs {sorted(extra)[:5]}")
    elif missed:
        failures.append(("dedup_minhash", f"missed {len(missed)} exact j>=0.9 pairs: {sorted(missed)[:5]}"))
        print(f"FAIL dedup_minhash (differential): missed pairs {sorted(missed)[:5]}")
    else:
        print(
            f"ok   dedup_minhash  (differential: {len(mh_pairs)} pairs, all within "
            f"exact j>=0.3; all {len(hi_pairs)} exact j>=0.9 pairs recalled)"
        )

    # --- dedup_simhash: blocked join == brute-force all-pairs ----------- #
    fp = simhash(docs, "text", "doc_id").persist()
    l = fp.select(F.col("doc_id").alias("left_id"), F.col("simhash").alias("__sl"))
    r = fp.select(F.col("doc_id").alias("right_id"), F.col("simhash").alias("__sr"))
    brute = {
        (r_["left_id"], r_["right_id"], r_["hamming"])
        for r_ in (
            l.crossJoin(r)
            .filter(F.col("left_id") < F.col("right_id"))
            .withColumn("hamming", F.bit_count(F.col("__sl").bitwiseXOR(F.col("__sr"))))
            .filter(F.col("hamming") <= 3)
            .select("left_id", "right_id", "hamming")
        ).collect()
    }
    blocked = {
        (r_["left_id"], r_["right_id"], r_["hamming"])
        for r_ in simhash_near_pairs(docs, "text", "doc_id", max_hamming=3).collect()
    }
    fp.unpersist()
    if blocked != brute:
        failures.append(("dedup_simhash", f"blocked {len(blocked)} vs brute {len(brute)}"))
        print(f"FAIL dedup_simhash (differential): blocked {len(blocked)} != brute-force {len(brute)}")
    else:
        print(f"ok   dedup_simhash  (differential: {len(blocked)} pairs == exhaustive all-pairs)")

    # --- dedup_groups: labels == connected components over buckets ------ #
    sig = minhash_signatures(docs, "text", "doc_id", 64, 3)
    cand = lsh_candidate_pairs(sig, "doc_id", 64, 16)
    cc = connected_components(
        cand,
        src="left_id",
        dst="right_id",
        nodes=docs.select(F.col("doc_id").alias("node")),
        node_col="node",
    )
    cc_map = {r_["node"]: r_["component"] for r_ in cc.collect()}
    g_map = {
        r_["doc_id"]: r_["canonical_id"]
        for r_ in minhash_dedup_groups(docs, "text", "doc_id").collect()
    }
    if cc_map != g_map:
        diff = {k for k in cc_map if cc_map.get(k) != g_map.get(k)}
        failures.append(("dedup_groups", f"{len(diff)} docs labeled differently"))
        print(f"FAIL dedup_groups (differential): {len(diff)} docs differ from connected components")
    else:
        n_clusters = len(set(g_map.values()))
        print(
            f"ok   dedup_groups  (differential: {len(g_map)} docs, {n_clusters} "
            "clusters == connected components over LSH buckets)"
        )
    return failures


def differential_semdedup_check(spark) -> list:
    """Differential oracle for ``semantic_dedup`` (seeded k-means is not
    SQL-expressible). At sf0.01 embeddings, threshold 0.45, 8 clusters:

    * precision — every within-cluster pair emitted must appear in the exact
      all-pairs cosine join at the same threshold (exact by construction:
      the operator verifies true cosine after the cluster-bounded join);
    * audit integrity — dropped rows' ``dup_of`` must point at a KEPT row
      whose exact cosine with the dropped row clears the threshold, and
      kept+dropped must partition the input;
    * recall — reported informationally (pairs split across clusters are
      the designed loss; the paper's trade).
    """
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.dedup import embedding_near_dup_pairs_exact
    from linkml_store_spark.operators.semdedup import semantic_dedup, semantic_dup_pairs
    from linkml_store_spark.sources.tables import load_table

    failures = []
    emb = load_table(spark, SF, "embeddings").withColumn(
        "embedding", F.col("embedding").cast("array<double>")
    )
    tau, k = 0.45, 8
    exact = {
        (r["left_id"], r["right_id"])
        for r in embedding_near_dup_pairs_exact(emb, "embedding", "vec_id", tau).collect()
    }
    got = {
        (r["left_id"], r["right_id"])
        for r in semantic_dup_pairs(
            emb, "embedding", "vec_id", threshold=tau, n_clusters=k
        ).collect()
    }
    extra = got - exact
    out = semantic_dedup(
        emb, "embedding", "vec_id", threshold=tau, n_clusters=k, keep="min_id"
    ).select("vec_id", "dup_of", "is_kept").collect()
    kept = {r["vec_id"] for r in out if r["is_kept"]}
    dropped = {r["vec_id"]: r["dup_of"] for r in out if not r["is_kept"]}
    n_total = emb.count()
    bad_audit = [
        (v, d)
        for v, d in dropped.items()
        if d not in kept or (min(d, v), max(d, v)) not in exact
    ]
    if extra:
        failures.append(("semantic_dedup", f"{len(extra)} pairs not in exact set"))
        print(f"FAIL semantic_dedup (differential): false pairs {sorted(extra)[:5]}")
    elif len(kept) + len(dropped) != n_total:
        failures.append(("semantic_dedup", "kept+dropped != total"))
        print(f"FAIL semantic_dedup (differential): {len(kept)}+{len(dropped)} != {n_total}")
    elif bad_audit:
        failures.append(("semantic_dedup", f"{len(bad_audit)} bad dup_of entries"))
        print(f"FAIL semantic_dedup (differential): bad audit {bad_audit[:5]}")
    else:
        recall = len(got) / len(exact) if exact else 1.0
        print(
            f"ok   semantic_dedup  (differential: {len(got)} pairs all exact-verified, "
            f"{len(dropped)} dropped with valid audit trail; cluster recall "
            f"{recall:.2f} of {len(exact)} exact pairs)"
        )
    return failures


def differential_span_incremental_check(spark) -> list:
    """Differential oracle for ``span_dedup_incremental``: when batches
    arrive in id order, incremental dedup over batches 1..N must equal
    ``dedup_spans_keep_first`` on the unioned corpus (same k) — the batch
    operator keeps the lowest-(id, start) occurrence, and id-ordered
    batching means every canonical occurrence lands in the same-or-earlier
    batch, so the persisted gram index replays exactly the batch keep-first
    rule. (The registered QUERY splits by doc_id parity — a setting where
    the two formulations legitimately differ on which copy survives — so
    this check uses a median id split; the known residual divergence
    source, splice-created grams from rewritten batch-1 text, does not
    occur on this corpus and a mismatch here is a real defect.)
    """
    import tempfile

    from pyspark.sql import functions as F

    from linkml_store_spark.operators.spandedup import (
        dedup_spans_keep_first,
        span_dedup_incremental,
    )
    from linkml_store_spark.sources.tables import load_table

    failures = []
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    cutoff = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    idx = tempfile.mkdtemp(prefix="gram_index_diff_") + "/idx"
    o1 = span_dedup_incremental(
        docs.filter(F.col("doc_id") <= cutoff), idx, "text", k=8
    )
    o2 = span_dedup_incremental(
        docs.filter(F.col("doc_id") > cutoff), idx, "text", k=8
    )
    inc = {r["doc_id"]: r["text"] for r in o1.union(o2).collect()}
    ref = {
        r["doc_id"]: r["text"]
        for r in dedup_spans_keep_first(docs, "text", k=8).collect()
    }
    if set(inc) != set(ref):
        failures.append(("span_dedup_incremental", "doc id sets differ"))
        print("FAIL span_dedup_incremental (differential): doc id sets differ")
    else:
        bad = [i for i in ref if inc[i] != ref[i]]
        if bad:
            failures.append(
                ("span_dedup_incremental", f"{len(bad)} docs differ from batch dedup")
            )
            print(
                f"FAIL span_dedup_incremental (differential): {len(bad)} docs "
                f"differ, e.g. doc {bad[0]!r}:\n  inc : {inc[bad[0]][:120]!r}"
                f"\n  ref : {ref[bad[0]][:120]!r}"
            )
        else:
            print(
                f"ok   span_dedup_incremental  (differential: id-ordered "
                f"2-batch incremental == dedup_spans_keep_first on the union, "
                f"{len(ref)} docs byte-identical)"
            )
    return failures


def differential_dedup_incremental_check(spark) -> list:
    """Differential oracle for ``dedup_incremental``: with id-ordered
    batches, the incremental survivor set must equal one-shot
    ``minhash_dedup_groups`` canonicals over the union (same seeds/params).
    Equivalence assumes no cross-batch bucket BRIDGES (a batch-2 doc
    linking two otherwise-disjoint batch-1 clusters) — none exist in this
    corpus, so a mismatch here is a real cross-batch-semantics defect.
    """
    import tempfile

    from pyspark.sql import functions as F

    from linkml_store_spark.operators.dedup import (
        dedup_incremental,
        minhash_dedup_groups,
    )
    from linkml_store_spark.sources.tables import load_table

    failures = []
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    cutoff = docs.approxQuantile("doc_id", [0.5], 0.0)[0]
    idx = tempfile.mkdtemp(prefix="band_index_diff_") + "/idx"
    s1 = dedup_incremental(docs.filter(F.col("doc_id") <= cutoff), idx, "text")
    s2 = dedup_incremental(docs.filter(F.col("doc_id") > cutoff), idx, "text")
    inc = {r["doc_id"] for r in s1.union(s2).select("doc_id").collect()}
    groups = minhash_dedup_groups(docs, "text", "doc_id")
    ref = {
        r["doc_id"]
        for r in groups.filter(
            F.col("doc_id") == F.col("canonical_id")
        ).select("doc_id").collect()
    }
    if inc != ref:
        failures.append(
            ("dedup_incremental", f"survivors differ: inc-only "
             f"{sorted(inc - ref)[:5]}, ref-only {sorted(ref - inc)[:5]}")
        )
        print(f"FAIL dedup_incremental (differential): {len(inc ^ ref)} ids differ")
    else:
        print(
            f"ok   dedup_incremental  (differential: id-ordered 2-batch "
            f"incremental survivor set == one-shot minhash_dedup_groups "
            f"canonicals, {len(ref)} docs)"
        )
    return failures


def differential_packing_check(spark) -> list:
    """Differential oracle for ``pack_sequences`` (stateful greedy
    assignment — not SQL-expressible). Invariants checked against an
    independent recomputation at sf0.01:

    * conservation — the packed chunk-id multiset equals the input chunk
      ids exactly (nothing dropped, nothing duplicated);
    * budget — every pack's token total <= budget (single over-budget
      chunks are allowed their own pack, like every packer);
    * offsets — within a pack, offset = prefix sum of member token counts
      in position order, positions contiguous from 0;
    * determinism — a second run produces the identical assignment.
    """
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.chunking import chunk_by_tokens
    from linkml_store_spark.operators.packing import pack_sequences
    from linkml_store_spark.sources.tables import load_table

    failures = []
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    chunks = chunk_by_tokens(docs, chunk_tokens=64).select(
        F.concat_ws("_", "doc_id", "chunk_idx").alias("cid"), "n_tokens"
    )
    budget = 256
    rows = pack_sequences(chunks, "cid", "n_tokens", budget=budget,
                          num_partitions=8).collect()
    rows2 = pack_sequences(chunks, "cid", "n_tokens", budget=budget,
                           num_partitions=8).collect()
    in_ids = sorted(r["cid"] for r in chunks.collect())
    in_tok = {r["cid"]: r["n_tokens"] for r in chunks.collect()}
    out_ids = sorted(r["cid"] for r in rows)
    problems = []
    if in_ids != out_ids:
        problems.append("conservation: chunk-id multiset differs")
    packs = {}
    for r in rows:
        packs.setdefault(r["pack_id"], []).append(r)
    for pid, members in packs.items():
        members.sort(key=lambda r: r["pack_pos"])
        if [m["pack_pos"] for m in members] != list(range(len(members))):
            problems.append(f"pack {pid}: positions not contiguous")
            break
        if len(members) > 1 and sum(m["n_tokens"] for m in members) > budget:
            problems.append(f"pack {pid}: over budget")
            break
        off = 0
        for m in members:
            if m["pack_offset"] != off:
                problems.append(f"pack {pid}: offset mismatch")
                break
            if in_tok.get(m["cid"]) != m["n_tokens"]:
                problems.append(f"pack {pid}: token count altered")
                break
            off += m["n_tokens"]
    key = lambda rs: sorted((r["cid"], r["pack_id"], r["pack_pos"], r["pack_offset"]) for r in rs)  # noqa: E731
    if key(rows) != key(rows2):
        problems.append("determinism: two runs differ")
    if problems:
        failures.append(("pack_sequences", "; ".join(problems[:3])))
        print(f"FAIL pack_sequences (differential): {problems[:3]}")
    else:
        fill = sum(r["n_tokens"] for r in rows) / (budget * len(packs))
        print(
            f"ok   pack_sequences  (differential: conservation + budget + "
            f"prefix offsets + determinism over {len(rows)} chunks in "
            f"{len(packs)} packs, mean fill {fill:.0%})"
        )
    return failures


def differential_corpus_pipeline_check(spark, con) -> list:
    """Partial oracle for ``corpus_pipeline``: the LSH dedup stage is
    seeded-random, but every count AROUND it is independently checkable —
    ``after_quality_gate`` from the package's own gate inputs is already
    covered by the scrub/repetition SQL oracles, so here DuckDB replays
    the CHUNK arithmetic: given the pipeline's actual surviving doc ids,
    the chunk count must equal sum(ceil(n_tokens/chunk_tokens)) computed
    by DuckDB over those docs' (normalized, scrubbed) text, and the pack
    stage must conserve chunks (every chunk appears in exactly one pack)
    within budget.
    """
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.pipeline import (
        CorpusConfig,
        prepare_training_corpus,
    )
    from linkml_store_spark.sources.tables import load_table

    failures = []
    docs = load_table(spark, SF, "documents").select("doc_id", "text")
    cfg = CorpusConfig(chunk_tokens=128, pack_budget=1024, pack_partitions=8)
    packed, report = prepare_training_corpus(docs, cfg)
    rows = packed.select("chunk_id", "n_tokens", "pack_id", "split").collect()
    surviving = sorted({int(r["chunk_id"].split("#")[0]) for r in rows})
    # DuckDB replays the pipeline's text transforms over exactly the
    # surviving ids: normalize (NFC + control strip + horizontal-whitespace
    # collapse + trim, operators/normalize.py) -> the 4-pattern PII scrub
    # (operators/scrub.py) -> BPE-ish pre-token count (textanalysis._BPE_SPLIT)
    # -> ceil-division into chunk counts (operators/chunking.py)
    ids = ",".join(str(i) for i in surviving)
    expected_chunks = con.execute(rf"""
        WITH normed AS (
          SELECT doc_id,
                 trim(regexp_replace(regexp_replace(
                     nfc_normalize(text),
                     '[\x00-\x08\x0b\x0c\x0e-\x1f\x7f]', '', 'g'),
                     '[ \t]+', ' ', 'g')) AS text
          FROM documents WHERE doc_id IN ({ids})
        ), scrubbed AS (
          SELECT doc_id,
                 regexp_replace(regexp_replace(regexp_replace(regexp_replace(
                     text,
                     '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{{2,}}', '[EMAIL]', 'g'),
                     '\b(?:\d{{1,3}}\.){{3}}\d{{1,3}}\b', '[IP]', 'g'),
                     '\b\d{{3}}-\d{{2}}-\d{{4}}\b', '[SSN]', 'g'),
                     '\+?\b\d{{3}}[-. ]\d{{3}}[-. ]\d{{4}}\b', '[PHONE]', 'g') AS text
          FROM normed
        )
        SELECT SUM(CAST(ceil(
            len(regexp_extract_all(text, '\s*(?:[A-Za-z]+|\d{{1,3}}|[^\sA-Za-z\d]+)'))
            / {cfg.chunk_tokens}.0) AS BIGINT))
        FROM scrubbed
    """).fetchone()[0]
    got_chunks = len(rows)
    if report["chunks"] != got_chunks:
        failures.append(("corpus_pipeline", "report chunks != packed rows"))
        print("FAIL corpus_pipeline: report chunks != packed rows")
    elif expected_chunks != got_chunks:
        failures.append(
            ("corpus_pipeline", f"chunks {got_chunks} != DuckDB {expected_chunks}")
        )
        print(
            f"FAIL corpus_pipeline (partial oracle): chunk count {got_chunks} "
            f"!= DuckDB-replayed {expected_chunks}"
        )
    else:
        over = {}
        for r in rows:
            over.setdefault((r["split"], r["pack_id"]), 0)
            over[(r["split"], r["pack_id"])] += r["n_tokens"]
        multi = [k for k, v in over.items() if v > cfg.pack_budget]
        # a pack may exceed budget only if it is a single over-budget chunk
        singles = {
            k for k in multi
            if sum(1 for r in rows if (r["split"], r["pack_id"]) == k) == 1
        }
        if set(multi) - singles:
            failures.append(("corpus_pipeline", "multi-chunk pack over budget"))
            print("FAIL corpus_pipeline: multi-chunk pack over budget")
        else:
            print(
                f"ok   corpus_pipeline  (partial oracle: chunk count "
                f"{got_chunks} == DuckDB replay over the {len(surviving)} "
                f"surviving docs; all {len(over)} packs within budget)"
            )
    return failures


def differential_bpe_check(spark) -> list:
    """Differential oracle for ``bpe_tokenize``: DuckDB independently
    computes the corpus word frequencies; an independent pure-Python
    reference merge loop (re-written here, not the operator's helpers)
    derives the expected merges; the operator's trained merges must be
    identical, and the distributed pandas-UDF encoding of a 50-doc sample
    must equal driver-side re-encoding under those merges."""
    from linkml_store_spark.operators.bpe import (
        bpe_encode,
        bpe_encode_word,
        train_bpe,
    )
    from linkml_store_spark.sources.tables import load_table

    con = duckdb.connect()
    wf = con.execute(f"""
        SELECT w AS word, count(*) AS freq
        FROM (SELECT unnest(string_split_regex(lower(trim(text)), '\\s+')) AS w
              FROM read_parquet('{SF}/documents.parquet'))
        WHERE w != '' GROUP BY w
    """).fetchall()

    def ref_merges(word_freqs, n):
        vocab = {}
        for w, f in word_freqs:
            k = tuple(w) + ("</w>",)
            vocab[k] = vocab.get(k, 0) + f
        out = []
        for _ in range(n):
            pc = {}
            for syms, f in vocab.items():
                for p in zip(syms, syms[1:]):
                    pc[p] = pc.get(p, 0) + f
            if not pc or max(pc.values()) < 2:
                break
            best = min(p for p, c in pc.items() if c == max(pc.values()))
            out.append(best)
            nv = {}
            for syms, f in vocab.items():
                res, i = [], 0
                while i < len(syms):
                    if i + 1 < len(syms) and (syms[i], syms[i + 1]) == best:
                        res.append(best[0] + best[1]); i += 2
                    else:
                        res.append(syms[i]); i += 1
                nv[tuple(res)] = nv.get(tuple(res), 0) + f
            vocab = nv
        return out

    expect = ref_merges(wf, 30)
    docs = load_table(spark, SF, "documents")
    got = train_bpe(docs, num_merges=30)
    if got != expect:
        bad = next(i for i, (a, b) in enumerate(zip(got, expect)) if a != b)
        print(f"FAIL bpe_tokenize (differential): merge {bad}: {got[bad]} != {expect[bad]}")
        return [("bpe_tokenize", f"merge divergence at rank {bad}")]
    ranks = {p: i for i, p in enumerate(got)}
    sample = bpe_encode(docs.limit(50), got).select("text", "bpe_tokens").collect()
    for r in sample:
        drv = []
        for w in r["text"].lower().split():
            drv.extend(bpe_encode_word(w, ranks))
        if r["bpe_tokens"] != drv:
            print("FAIL bpe_tokenize (differential): distributed encode != driver encode")
            return [("bpe_tokenize", "encode divergence")]
    print(
        f"ok   bpe_tokenize  (differential: 30 merges == independent reference "
        f"over DuckDB word counts; 50-doc distributed encode == driver encode)"
    )
    return []


def differential_quality_check(spark) -> list:
    """Differential oracle for ``quality_classifier`` (iterative L-BFGS is
    not SQL-expressible): on a content-hash holdout the fitted model must
    reproduce the weak labels it distills with accuracy >= 0.85 (measured
    0.97 at sf0.01 — the bar leaves slack for optimizer jitter, not for a
    broken pipeline, which scores ~0.5)."""
    from linkml_store_spark.operators.quality_model import (
        train_test_quality_eval,
        weak_quality_labels,
    )
    from linkml_store_spark.sources.tables import load_table

    docs = weak_quality_labels(load_table(spark, SF, "documents"), threshold=0.7)
    _, acc = train_test_quality_eval(docs)
    if acc < 0.85:
        print(f"FAIL quality_classifier (differential): holdout accuracy {acc:.3f} < 0.85")
        return [("quality_classifier", f"holdout accuracy {acc:.3f}")]
    print(f"ok   quality_classifier  (differential: holdout accuracy {acc:.3f} >= 0.85)")
    return []


def main():
    only = set(sys.argv[1:])
    m = load_registry()
    from linkml_store_spark.session import get_spark

    spark = get_spark()
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )
    qs, oracles = m.queries(), m.oracle_sql()
    failures = []
    for name, fn in qs.items():
        if only and name not in only:
            continue
        try:
            sdf = fn(spark, SF).toPandas()
        except Exception as exc:  # noqa: BLE001
            failures.append((name, f"spark error: {exc}"))
            print(f"FAIL {name}: spark error: {exc}")
            continue
        if name not in oracles:
            print(f"ok   {name}  (rows-only: {len(sdf)})")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        if sorted(sdf.columns) != sorted(odf.columns):
            failures.append((name, f"columns {sorted(sdf.columns)} vs {sorted(odf.columns)}"))
            print(f"FAIL {name}: column mismatch {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            continue
        if len(sdf) != len(odf):
            failures.append((name, f"rows {len(sdf)} vs {len(odf)}"))
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            continue
        s_rows, o_rows = canon(sdf), canon(odf)
        if s_rows != o_rows:
            bad = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            failures.append((name, f"value mismatch at sorted row {bad}"))
            print(f"FAIL {name}: value mismatch at sorted row {bad}")
            print(f"  spark : {s_rows[bad]}")
            print(f"  oracle: {o_rows[bad]}")
            continue
        drift = dtype_drift(sdf, odf)
        if drift:
            failures.append((name, f"dtype drift {drift}"))
            print(f"FAIL {name}: dtype drift {drift}")
            continue
        print(f"ok   {name}  ({len(sdf)} rows, values and dtypes match)")
    lsh_trio = {"dedup_minhash", "dedup_simhash", "dedup_groups"}
    if not only or only & lsh_trio:
        failures += differential_lsh_checks(spark)
    if not only or "semantic_dedup" in only:
        failures += differential_semdedup_check(spark)
    if not only or "quality_classifier" in only:
        failures += differential_quality_check(spark)
    if not only or "bpe_tokenize" in only:
        failures += differential_bpe_check(spark)
    if not only or "span_dedup_incremental" in only:
        failures += differential_span_incremental_check(spark)
    if not only or "dedup_incremental" in only:
        failures += differential_dedup_incremental_check(spark)
    if not only or "pack_sequences" in only:
        failures += differential_packing_check(spark)
    if not only or "corpus_pipeline" in only:
        failures += differential_corpus_pipeline_check(spark, con)
    if failures:
        print(f"\n{len(failures)} FAILURES: {[f[0] for f in failures]}")
        sys.exit(1)
    print("\nALL MATCH")


if __name__ == "__main__":
    main()
