"""Winnowing document fingerprints — Schleimer, Wilkerson & Aiken 2003,
"Winnowing: Local Algorithms for Document Fingerprinting" (the MOSS
algorithm).

Guarantee: any shared substring of at least ``w + k - 1`` tokens between
two documents produces at least one SHARED fingerprint, while only
~2/(w+1) of all k-gram hashes are kept — the sketch that makes
all-pairs overlap detection affordable. Complements the span-dedup
family: ExactSubstr finds and removes duplicated spans; fingerprints
support pairwise PROVENANCE questions ("which documents share text with
which") at a fraction of the index size.

Selection rule (the paper's): in every window of ``w`` consecutive
k-gram hashes keep the minimum, breaking ties by RIGHTMOST position;
record each selected (position, hash) once. Deterministic — and with
the md5-low64 gram hash, bit-identical in DuckDB, so the driver query
carries a full value oracle.

Scale shape (100 TB): fingerprinting is a stateless projection
(tokenize → per-position gram hash array → per-window argmin → explode
distinct selections) — no shuffle at all until the fingerprints
aggregate; the overlap join shuffles only the winnowed sketch (~2/(w+1)
of the gram volume) on a near-uniform 64-bit key, with the standard
hot-hash cap (``max_freq``) pruning degenerate boilerplate fingerprints
before the self-join, exactly like the Jaccard inverted index.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from linkml_store_spark.operators.dedup import _md5_low64
from linkml_store_spark.operators.scale import stage_checkpoint


def _tokens(text_col: Column) -> Column:
    return F.split(F.lower(F.trim(text_col)), r"\s+")


def winnow_fingerprints(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    gram_hash: str = "xxhash64",
    dedup: bool = True,
) -> DataFrame:
    """(id, pos, fp): the winnowed fingerprint set of every document.

    ``pos`` is the 0-based token offset of the selected k-gram, ``fp``
    its hash. Documents shorter than ``k`` tokens fingerprint their
    whole text as one gram; documents with fewer than ``w`` windows keep
    the single global rightmost-min. DISTINCT on (id, pos, fp) — a hash
    selected by several overlapping windows is recorded once (the
    paper's rule).

    ``gram_hash``: "xxhash64" (one JVM instruction per gram — the scale
    default; measured 2.9x faster end-to-end at 290M grams) or "md5"
    (md5-low64 via decimal conversion — ~3x the per-gram cost but
    bit-identical in any engine with md5; the variant the SQL value
    oracle replays). Same dual simhash established.

    ``dedup=False`` skips the final row-level DISTINCT (a full shuffle of
    the sketch): ``array_distinct`` has already removed within-document
    repeats at array level, so the rows are near-unique, and consumers
    that re-aggregate anyway (``fingerprint_overlap``'s per-(id, fp)
    dedup) fold the residual duplicates into their own shuffle — one
    sketch-volume exchange instead of two (SCALING.md round 9)."""
    gh, sel_col = _winnow_parts(df, text_col, id_col, k, w, gram_hash)
    sel = gh.select(F.col(id_col), F.explode(sel_col).alias("__s"))
    out = sel.select(
        F.col(id_col),
        F.col("__s.pos").alias("pos"),
        F.col("__s.fp").alias("fp"),
    )
    return out.distinct() if dedup else out


def _winnow_parts(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int,
    gram_hash: str,
):
    """(gh, sel_col): ``gh`` is the projection holding the per-document
    gram-hash array ``__g``; ``sel_col`` is the winnowed
    ``array<struct<pos, fp>>`` selection column OVER ``gh`` — the shared
    stateless core of :func:`winnow_fingerprints` (which explodes it) and
    :func:`_doc_distinct_fps` (which array-distincts the fps without
    shuffling rows). Consumers must put ``sel_col`` (or a
    single-reference wrapper of it) directly into ONE projection over
    ``gh``: the column references ``__g`` many times, and keeping ``gh``
    a real projection boundary is what stops Catalyst from inlining the
    gram-array build per window (a measured O(windows x tokens)
    blow-up)."""
    if k < 1 or w < 1:
        raise ValueError("k and w must be >= 1")
    if gram_hash not in ("xxhash64", "md5"):
        raise ValueError(f"unknown gram_hash: {gram_hash!r}")
    from linkml_store_spark.operators.scale import fan_out

    h = _md5_low64 if gram_hash == "md5" else F.xxhash64
    # fan the narrow (id, text) projection out before tokenize+gram-hash
    # (a one-row-group store scans as ONE task; no-op on pre-split inputs)
    toked = fan_out(df.select(F.col(id_col), F.col(text_col)), key=id_col).select(
        F.col(id_col), _tokens(F.col(text_col)).alias("__t")
    )
    n = F.size("__t")
    gidx = F.sequence(F.lit(1), F.greatest(n - (k - 1), F.lit(1)))
    grams = F.when(
        n >= k,
        F.transform(
            gidx,
            lambda i: h(F.concat_ws(" ", F.slice(F.col("__t"), i, k))),
        ),
    ).otherwise(F.array(h(F.concat_ws(" ", F.col("__t")))))
    gh = toked.select(F.col(id_col), grams.alias("__g"))
    m = F.size("__g")
    widx = F.sequence(F.lit(1), F.greatest(m - (w - 1), F.lit(1)))

    def pick(i: Column) -> Column:
        # rightmost minimum of the window starting at 1-based i: position
        # within the slice = w_eff - (first index of min in the REVERSED
        # slice) + 1; emitted pos is 0-based in the gram sequence
        sl = F.slice(F.col("__g"), i, w)
        mn = F.array_min(sl)
        w_eff = F.size(sl)
        right = w_eff - F.array_position(F.reverse(sl), mn) + 1
        return F.struct(
            (i + right - 2).cast("long").alias("pos"), mn.alias("fp")
        )

    sel_col = F.array_distinct(
        F.when(m >= w, F.transform(widx, pick)).otherwise(
            F.array(pick(F.lit(1)))
        )
    )
    return gh, sel_col


def _doc_distinct_fps(
    df: DataFrame, text_col: str, id_col: str, k: int, w: int,
    gram_hash: str,
) -> DataFrame:
    """(id, fp) with fps EXACT-unique per document, produced entirely
    inside the stateless projection (array_distinct over the per-doc fp
    array before the explode) — the round-10 replacement for the
    per-(id, fp) ``dropDuplicates`` EXCHANGE over the full sketch, which
    the round-9 decomposition identified as the degenerate worst case's
    dominant cost. Same rows, zero shuffle."""
    gh, sel_col = _winnow_parts(df, text_col, id_col, k, w, gram_hash)
    return gh.select(
        F.col(id_col),
        F.explode(
            F.array_distinct(F.transform(sel_col, lambda s: s["fp"]))
        ).alias("fp"),
    )


def fingerprint_overlap(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    k: int = 5,
    w: int = 4,
    min_shared: int = 1,
    max_freq: Optional[int] = None,
    gram_hash: str = "xxhash64",
) -> DataFrame:
    """(left_id, right_id, shared_fps): document pairs sharing winnowed
    fingerprints — the MOSS overlap report. Any common run of
    ``w + k - 1`` tokens is guaranteed to surface. ``max_freq`` drops
    fingerprints appearing in more than that many documents before the
    self-join (boilerplate guard, same role as the Jaccard index's hot
    shingle cap).

    Plan shape (round 10): per-doc fp uniqueness happens at ARRAY level
    inside the stateless projection (:func:`_doc_distinct_fps`) — the
    round-9 per-(id, fp) dedup EXCHANGE over the whole sketch is gone.
    With ``max_freq`` set, the sketch repartitions once on fp (a plain
    hash exchange the hot aggregate and the anti-join both reuse), the
    pruned sketch checkpoints (the round-8/9 single-evaluation +
    empty-short-circuit discipline), and the self-join runs as before."""
    fps = _doc_distinct_fps(df, text_col, id_col, k, w, gram_hash)
    if max_freq is not None:
        # one explicit hash exchange on fp: the hot aggregate needs no
        # further shuffle and the anti-join probes co-partitioned data,
        # so the projection runs ONCE (ReuseExchange) like round 9's
        # distinct exchange — minus the per-(id, fp) dedup sort it paid
        fps = fps.repartition("fp")
        hot = (
            fps.groupBy("fp")
            .agg(F.count(F.lit(1)).alias("__n"))
            .filter(F.col("__n") > max_freq)
            .select("fp")
        )
        fps = fps.join(hot, "fp", "left_anti")
        # materialize the PRUNED sketch once: without this the self-join
        # evaluates the winnowing + hot-fp aggregate TWICE (one per join
        # branch — Catalyst has no CTE reuse across differently-projected
        # branches), which made the degenerate all-boilerplate case cost
        # 2x the sketch for 0 output pairs (SCALING.md round-8 newops;
        # round-8 verdict #2). The checkpoint is the same volume the join
        # shuffle would materialize anyway; the count it enables is the
        # empty-after-prune short-circuit.
        fps = stage_checkpoint(fps)
        if fps.isEmpty():
            id_t = df.schema[id_col].dataType.simpleString()
            return df.sparkSession.createDataFrame(
                [], f"left_id {id_t}, right_id {id_t}, shared_fps long"
            )
    else:
        # no cap: exchange once so the self-join's two branches share one
        # projection instead of re-winnowing per branch
        fps = fps.repartition("fp")
    left = fps.select(F.col(id_col).alias("left_id"), "fp")
    right = fps.select(F.col(id_col).alias("right_id"), "fp")
    return (
        left.join(right, "fp")
        .filter(F.col("left_id") < F.col("right_id"))
        .groupBy("left_id", "right_id")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )
