"""Distributed n-gram language model with Stupid Backoff — the
corpus-quality scorer CCNet-style pipelines use (Wenzek et al. 2019
filter Common Crawl by the perplexity of a wiki-trained LM; Brants et
al. 2007, "Large Language Models in Machine Translation", introduced
Stupid Backoff precisely because it trains and scores as pure
MapReduce count jobs at web scale — no discount estimation pass).

Model: for an n-gram ``w`` with context ``c`` (highest order first),

    S(w | c) = count(c ++ w) / count(c)            if count(c ++ w) > 0
             = alpha * S(w | shorter c)            otherwise
    S(w)     = count(w) / N                        (unigram base)
    S(OOV)   = alpha^(order-1) / N                 (unseen everywhere)

Not a normalized probability (Brants et al. drop normalization on
purpose) — a deterministic score whose per-token log10 mean ranks
documents by target-likeness exactly like perplexity does, with zero
float-iteration training.

Spark shape (100 TB): training is ``order`` map-side-combined
aggregates over exploded n-grams (the gram tables are corpus-vocabulary
sized, far smaller than the corpus); scoring explodes the raw corpus
once per order and LEFT-joins the gram tables on the gram string —
shuffles keyed on near-uniform text keys, volume linear in tokens,
exactly the Brants et al. layout. Everything is native expressions; and
because the model is count arithmetic, a SQL engine replays the whole
operator (the driver query carries a full DuckDB value oracle).

Reference parity: no LM surface in the reference store; north-star
LLM-pipeline extension (build brief).
"""

from __future__ import annotations

from typing import Dict, Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


def _tokens(text_col: Column) -> Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def _grams(tok_array: Column, n: int) -> Column:
    """All n-grams of a token array as space-joined strings (empty array
    when the doc is shorter than n)."""
    size = F.size(tok_array)
    idx = F.sequence(F.lit(1), F.greatest(size - (n - 1), F.lit(1)))
    return F.when(
        size >= n,
        F.transform(idx, lambda i: F.concat_ws(" ", F.slice(tok_array, i, n))),
    ).otherwise(F.array().cast("array<string>"))


def train_ngram_lm(
    df: DataFrame, text_col: str = "text", order: int = 3
) -> Dict:
    """Count tables for every order 1..``order`` plus the token total N.

    Returns ``{"order": o, "n_tokens": N, "counts": {n: DataFrame(gram,
    n_count)}}``. Each table is one explode + one map-side-combined
    groupBy; nothing else."""
    if order < 1:
        raise ValueError("order must be >= 1")
    toked = df.select(_tokens(F.col(text_col)).alias("__t"))
    counts = {}
    for n in range(1, order + 1):
        counts[n] = (
            toked.select(F.explode(_grams(F.col("__t"), n)).alias("gram"))
            .groupBy("gram")
            .agg(F.count(F.lit(1)).alias("n_count"))
        )
    n_tokens = counts[1].agg(F.sum("n_count")).first()[0] or 0
    return {"order": order, "n_tokens": int(n_tokens), "counts": counts}


#: broadcast-scoring HARD CAP in gram-table entries (across all orders).
#: The effective default gate is memory-derived (:func:`lm_broadcast_gate`)
#: and never exceeds this. IMPORTANT SIZING FACT: the broadcast dict is
#: deserialized ONCE PER PYTHON WORKER PROCESS, and local[K] / a K-core
#: executor can run K workers concurrently — the model's memory budget
#: MULTIPLIES by the per-executor core count, not by the executor count.
LM_BROADCAST_MAX_ENTRIES = 5_000_000

#: measured on this interpreter: a dict of 1M random 3-word gram strings
#: -> int costs ~141 bytes/entry of resident memory (string + int + dict
#: slot); 160 leaves margin for pickle/broadcast copies in flight.
LM_BROADCAST_BYTES_PER_ENTRY = 160


def _parse_mem(v) -> int:
    """Spark memory-conf string -> bytes: k/m/g/t(±b) suffixes; a bare
    number is MiB (the spark.executor.pyspark.memory convention)."""
    s = str(v).strip().lower()
    if s.endswith("b"):
        s = s[:-1]
    for suf, mult in (("t", 1 << 40), ("g", 1 << 30),
                      ("m", 1 << 20), ("k", 1 << 10)):
        if s.endswith(suf):
            return int(float(s[:-1]) * mult)
    return int(float(s)) << 20


def _executor_budget(get, workers: int):
    """Per-PYTHON-WORKER memory budget from EXECUTOR-side confs, or None.

    The broadcast dict is deserialized once per python worker ON THE
    EXECUTORS; on a real cluster those boxes can be smaller than the
    driver, so sizing from driver MemAvailable overshoots (round-11
    advice). ``spark.executor.pyspark.memory`` IS the python budget per
    executor — half of a worker's share (the rest stays free for Arrow
    batches in flight); ``spark.executor.memory`` is only a box-size
    proxy — a quarter across workers, same ratio as the driver
    heuristic."""
    v = get("spark.executor.pyspark.memory", None)
    if v:
        return (_parse_mem(v) // max(workers, 1)) // 2
    v = get("spark.executor.memory", None)
    if v:
        return (_parse_mem(v) // 4) // max(workers, 1)
    return None


def lm_broadcast_gate(spark=None) -> int:
    """Default broadcast gate in entries, at the measured ~160 B/entry —
    capped at :data:`LM_BROADCAST_MAX_ENTRIES`.

    Budget resolution: on a CLUSTER master, executor-side confs win
    (:func:`_executor_budget` — the dict lives on executors, whose
    memory the driver's /proc says nothing about); in local mode, or
    when no executor conf is set, a quarter of the driver's AVAILABLE
    memory divided across the concurrent python workers (driver box ==
    executor box there). On a 128 GiB / 32-core box this lands near the
    cap; on a 16 GiB laptop it drops to ~1M entries instead of OOMing
    32 workers x 0.7 GB (round-10 advice)."""
    import os

    from py4j.protocol import Py4JError
    from pyspark.errors import PySparkException

    workers = os.cpu_count() or 8
    per_worker = None
    if spark is not None:
        try:
            conf = spark.sparkContext.getConf()
            workers = max(
                1, int(conf.get("spark.executor.cores", str(workers)))
            )
            if not conf.get("spark.master", "local").startswith("local"):
                per_worker = _executor_budget(conf.get, workers)
        except (ValueError, PySparkException, Py4JError) as e:
            import warnings

            warnings.warn(
                f"could not read the executor confs for the LM broadcast "
                f"gate ({type(e).__name__}: {e}); sizing it from the "
                f"driver's memory",
                stacklevel=2,
            )
    if per_worker is None:
        avail = None
        try:
            with open("/proc/meminfo") as f:
                for line in f:
                    if line.startswith("MemAvailable:"):
                        avail = int(line.split()[1]) * 1024
                        break
        except OSError:
            pass
        if avail is None:
            avail = 8 << 30  # conservative fallback when /proc is absent
        per_worker = (avail // 4) // max(workers, 1)
    return max(
        100_000,
        min(LM_BROADCAST_MAX_ENTRIES,
            per_worker // LM_BROADCAST_BYTES_PER_ENTRY),
    )

#: the Python mirror of Spark's tokenizer ``split(lower(trim(s)), '\\s+')``:
#: Java ``\s`` is ASCII-only ([ \t\n\x0B\f\r]) while Python ``\s`` also
#: matches Unicode spaces — the explicit class keeps both engines
#: splitting identically; Java ``trim`` strips codepoints <= U+0020.
_JAVA_WS = "".join(chr(i) for i in range(0x21))


def _py_tokens(text):
    import re

    return re.split(r"[ \t\n\x0b\f\r]+", text.strip(_JAVA_WS).lower())


def _score_tokens(tokens, cnts, order, N, alpha):
    """One document's (n_tokens, mean log10 Stupid Backoff score) — the
    exact Python replay of the expression chain in the join plan below
    (ascending-order overwrite; unreachable orders charge no backoff).
    Reference implementation: the hot path is :func:`_score_tokens_fast`,
    differential-pinned against this one."""
    import math

    c1 = cnts[1]
    total = 0.0
    for p in range(1, len(tokens) + 1):
        uni = c1.get(tokens[p - 1], 0) / N
        score = uni if uni > 0 else 1.0 / N
        for n in range(2, order + 1):
            if p >= n:
                gc = cnts[n].get(" ".join(tokens[p - n:p]))
                cc = cnts[n - 1].get(" ".join(tokens[p - n:p - 1]))
                if gc is not None and cc is not None:
                    score = gc / cc
                else:
                    score = alpha * score
        total += math.log10(score)
    return len(tokens), total / len(tokens)


def _rekey_model(cnts):
    """String-keyed gram tables -> integer-token-id tables:
    ``{"vocab": {token: id}, 1: {id: count}, n>=2: {(id,...): count}}``.
    Tokens can't contain spaces (the tokenizer splits on whitespace) and
    ``" ".join``/``split(" ")`` round-trips empty tokens, so the split is
    exact. Ids are assigned from every gram of every order — a higher-
    order gram whose token is missing from the unigram table still keys
    consistently. Done ONCE (driver side); the scorer then probes dicts
    with int/tuple keys instead of constructing strings per position."""
    vocab: Dict[str, int] = {}

    def tid(tok):
        i = vocab.get(tok)
        if i is None:
            i = len(vocab)
            vocab[tok] = i
        return i

    out = {"vocab": vocab}
    for n, table in cnts.items():
        if n == 1:
            out[1] = {tid(g): c for g, c in table.items()}
        else:
            out[n] = {
                tuple(tid(t) for t in g.split(" ")): c
                for g, c in table.items()
            }
    return out


def _score_tokens_fast(tokens, model, order, N, alpha):
    """Value-identical to :func:`_score_tokens` (same float operations in
    the same order), restructured for throughput. ``model`` is the
    :func:`_rekey_model` form: tokens map to int ids once per document,
    and the n-gram ending at position p is the TUPLE of the last n ids —
    ``zip(*(ids[i:] for i in range(n)))`` yields exactly those tuples at
    C speed, so no gram strings are ever built (round-10 verdict #7: the
    string path spent its time in concat + long-string hashing; int-tuple
    hashing is a few word ops). OOV tokens map to -1 via ``get``, and no
    model tuple contains -1, so OOV grams miss exactly like their strings
    did. Measured (tools/lm_stage_r11.py, interleaved best-of-2): the
    1M-doc scoring stage drops 12.6 -> 8.6 s (-32%) vs the r10 string
    scorer; end-to-end train+score at 5M docs 109.3 -> 93.7 s."""
    import math

    L = len(tokens)
    vocab = model["vocab"]
    ids = [vocab.get(t, -1) for t in tokens]
    c1 = model[1]
    # lookups[n-1][p] = count of the n-gram ending at p, None where the
    # gram would cross the document start or is absent from the model
    lookups = [[c1.get(i) for i in ids]]
    for n in range(2, order + 1):
        get = model[n].get
        lookups.append(
            [None] * (n - 1)
            + [get(t) for t in zip(*(ids[i:] for i in range(n)))]
        )
    log10 = math.log10
    total = 0.0
    l1 = lookups[0]
    # The steady-state positions (p >= order-1) run in UNROLLED zip loops
    # for the common orders — the generic per-position `for n in
    # range(2, order+1)` inner loop was ~40% of the scorer (profiled at
    # the 1M rung); zip pulls the five operands per position at C speed
    # with zero index arithmetic. Same divisions, same order => same bits.
    if order >= 3 and len(lookups) == 3:
        l2, l3 = lookups[1], lookups[2]
        u = l1[0]
        total += log10(u / N if u else 1.0 / N)
        if L > 1:
            u = l1[1]
            score = u / N if u else 1.0 / N
            gc, cc = l2[1], l1[0]
            if gc is not None and cc is not None:
                score = gc / cc
            else:
                score = alpha * score
            total += log10(score)
        for u, cc2, gc2, cc3, gc3 in zip(
            l1[2:], l1[1:], l2[2:], l2[1:], l3[2:]
        ):
            score = u / N if u else 1.0 / N
            if gc2 is not None and cc2 is not None:
                score = gc2 / cc2
            else:
                score = alpha * score
            if gc3 is not None and cc3 is not None:
                score = gc3 / cc3
            else:
                score = alpha * score
            total += log10(score)
        return L, total / L
    if order == 2:
        l2 = lookups[1]
        u = l1[0]
        total += log10(u / N if u else 1.0 / N)
        for u, cc2, gc2 in zip(l1[1:], l1, l2[1:]):
            score = u / N if u else 1.0 / N
            if gc2 is not None and cc2 is not None:
                score = gc2 / cc2
            else:
                score = alpha * score
            total += log10(score)
        return L, total / L
    if order == 1:
        for u in l1:
            total += log10(u / N if u else 1.0 / N)
        return L, total / L
    # generic fallback for order > 3 (rare): the reference cascade
    for p in range(L):
        u = l1[p]
        score = u / N if u else 1.0 / N
        for n in range(2, order + 1):
            if p >= n - 1:
                gc = lookups[n - 1][p]
                cc = lookups[n - 2][p - 1]
                if gc is not None and cc is not None:
                    score = gc / cc
                else:
                    score = alpha * score
        total += log10(score)
    return L, total / L


def score_with_lm(
    df: DataFrame,
    model: Dict,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.4,
    scoring: str = "auto",
    broadcast_max_entries: Optional[int] = None,
) -> DataFrame:
    """(id, n_tokens, logprob_per_token): mean per-token log10 Stupid
    Backoff score of every document under ``model``.

    Every token is scored at the HIGHEST order its left context allows
    (token i uses an (i+1)-gram until ``order`` is reachable — standard
    sentence-start handling without pad symbols), backing off by
    ``alpha`` per unmatched order.

    ``scoring``:

    - ``"broadcast"`` (the ``"auto"`` default whenever the gram tables
      total ≤ ``broadcast_max_entries`` entries — probed with a
      LIMIT-bounded collect, never an unbounded one): the count tables
      are broadcast as plain dicts and every document is scored in ONE
      Arrow-batched ``mapInPandas`` pass over (id, text) — ZERO shuffle
      over the scored corpus (round-9 verdict: the join plan shuffled
      ~900M scored positions × 3 gram orders at 5M docs). The model is
      corpus-vocabulary sized, not corpus sized — CCNet-style target
      models fit comfortably; a web-scale model past the gate keeps the
      join plan. NOTE the budget multiplies PER PYTHON WORKER (one per
      executor core): ``broadcast_max_entries=None`` (default) derives
      the gate from available memory / worker count at ~160 B/entry
      (:func:`lm_broadcast_gate`), capped at 5M entries; pass an int to
      pin it.
    - ``"join"``: one explode of the scored corpus into (doc, position,
      suffix grams), ``2·order-1`` LEFT joins against the count tables
      on the gram string, one groupBy on the doc id — linear shuffle in
      corpus tokens, the Brants et al. MapReduce layout; correct at any
      model size.
    - ``"auto"``: broadcast inside the gate, join past it.
    """
    if scoring not in ("auto", "broadcast", "join"):
        raise ValueError(f"unknown scoring: {scoring!r}")
    if broadcast_max_entries is None:
        broadcast_max_entries = lm_broadcast_gate(df.sparkSession)
    order, N = model["order"], max(model["n_tokens"], 1)
    if scoring != "join":
        cnts = _collect_model(model, broadcast_max_entries)
        if cnts is not None:
            return _score_broadcast(
                df, cnts, order, N, alpha, text_col, id_col
            )
        if scoring == "broadcast":
            raise ValueError(
                f"model exceeds broadcast_max_entries={broadcast_max_entries}"
            )
    toked = df.select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__t")
    )
    size = F.size("__t")
    pos = F.explode(F.sequence(F.lit(1), size)).alias("__p")
    rows = toked.select(F.col(id_col), size.alias("n_tokens"), "__t", pos)
    # suffix gram ending at position p for each order n: tokens [p-n+1, p]
    sel = [F.col(id_col), F.col("n_tokens"), F.col("__p")]
    for n in range(1, order + 1):
        gram_n = F.when(
            F.col("__p") >= n,
            F.concat_ws(
                " ", F.slice(F.col("__t"), F.col("__p") - (n - 1), n)
            ),
        )
        sel.append(gram_n.alias(f"__g{n}"))
        if n >= 2:
            ctx_n = F.when(
                F.col("__p") >= n,
                F.concat_ws(
                    " ", F.slice(F.col("__t"), F.col("__p") - (n - 1), n - 1)
                ),
            )
            sel.append(ctx_n.alias(f"__c{n}"))
    ex = rows.select(*sel)
    for n in range(1, order + 1):
        c = model["counts"][n].select(
            F.col("gram").alias(f"__g{n}"),
            F.col("n_count").alias(f"__gc{n}"),
        )
        ex = ex.join(c, f"__g{n}", "left")
        if n >= 2:
            cc = model["counts"][n - 1].select(
                F.col("gram").alias(f"__c{n}"),
                F.col("n_count").alias(f"__cc{n}"),
            )
            ex = ex.join(cc, f"__c{n}", "left")
    # highest matched order wins; each level down multiplies by alpha
    uni = F.coalesce(F.col("__gc1"), F.lit(0)) / F.lit(float(N))
    score = F.when(uni > 0, uni).otherwise(F.lit(1.0 / N))
    # at position p only orders n <= p are REACHABLE; an unreachable
    # order must not charge a backoff step
    for n in range(2, order + 1):
        matched = (F.col(f"__cc{n}").isNotNull()) & F.col(
            f"__gc{n}"
        ).isNotNull()
        reachable = F.col("__p") >= n
        level = F.col(f"__gc{n}") / F.col(f"__cc{n}")
        score = F.when(reachable & matched, level).otherwise(
            F.when(reachable, F.lit(alpha) * score).otherwise(score)
        )
    scored = ex.select(F.col(id_col), "n_tokens", F.log10(score).alias("__lp"))
    return scored.groupBy(id_col, "n_tokens").agg(
        F.avg("__lp").alias("logprob_per_token")
    )


def _collect_model(model: Dict, max_entries: int):
    """The :func:`_rekey_model` id-keyed form when the gram tables fit
    the broadcast gate, else None. The probe collects AT MOST
    ``max_entries + 1`` rows per table (LIMIT-bounded — a web-scale
    table never floods the driver). Re-keying to int/tuple keys happens
    HERE, once on the driver, so workers deserialize the compact form
    and never touch gram strings."""
    cnts: Dict[int, Dict[str, int]] = {}
    budget = max_entries
    for n in range(1, model["order"] + 1):
        pdf = model["counts"][n].limit(budget + 1).toPandas()
        if len(pdf) > budget:
            return None
        cnts[n] = dict(zip(pdf["gram"], pdf["n_count"].astype(int)))
        budget -= len(pdf)
    return _rekey_model(cnts)


def _score_broadcast(
    df: DataFrame,
    cnts: Dict[int, Dict[str, int]],
    order: int,
    N: int,
    alpha: float,
    text_col: str,
    id_col: str,
) -> DataFrame:
    """The shuffle-free scorer: model dicts broadcast once per executor,
    one Arrow-batched pass over (id, text). NULL texts are absent from
    the output, exactly like the join plan (explode drops them)."""
    from pyspark.sql import types as T

    spark = df.sparkSession
    b = spark.sparkContext.broadcast(cnts)
    id_field = df.schema[id_col]
    out_schema = T.StructType(
        [
            T.StructField(id_col, id_field.dataType, id_field.nullable),
            T.StructField("n_tokens", T.IntegerType(), False),
            T.StructField("logprob_per_token", T.DoubleType(), False),
        ]
    )

    def score_batches(batches):
        import pandas as pd

        m = b.value
        for pdf in batches:
            ids, lens, lps = [], [], []
            for i, text in zip(pdf[id_col], pdf[text_col]):
                if text is None or (
                    isinstance(text, float) and text != text
                ):
                    continue  # NULL text: the join plan drops it too
                n_tok, lp = _score_tokens_fast(
                    _py_tokens(text), m, order, N, alpha
                )
                ids.append(i)
                lens.append(n_tok)
                lps.append(lp)
            yield pd.DataFrame(
                {
                    id_col: pd.Series(ids, dtype=pdf[id_col].dtype),
                    "n_tokens": pd.Series(lens, dtype="int32"),
                    "logprob_per_token": pd.Series(lps, dtype="float64"),
                }
            )

    # fan the narrow (id, text) projection out first: the per-doc scoring
    # kernel otherwise runs inside ONE Python worker when a one-row-group
    # store scans as one partition (no-op on pre-split inputs)
    from linkml_store_spark.operators.scale import fan_out

    return fan_out(df.select(id_col, text_col), key=id_col).mapInPandas(
        score_batches, out_schema
    )


def lm_quality_filter(
    raw_df: DataFrame,
    target_df: DataFrame,
    min_logprob: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    order: int = 3,
    alpha: float = 0.4,
) -> DataFrame:
    """CCNet-style LM filtering: train on the target corpus, keep raw
    documents whose per-token log score clears ``min_logprob``."""
    model = train_ngram_lm(target_df, text_col, order)
    scores = score_with_lm(raw_df, model, text_col, id_col, alpha)
    keep = scores.filter(F.col("logprob_per_token") >= min_logprob).select(
        id_col
    )
    return raw_df.join(keep, id_col, "left_semi")
