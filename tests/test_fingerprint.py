"""Winnowing fingerprints (operators/fingerprint.py)."""

import hashlib

from linkml_store_spark.operators.fingerprint import (
    fingerprint_overlap,
    winnow_fingerprints,
)


def _h(s: str) -> int:
    v = int(hashlib.md5(s.encode()).hexdigest()[16:32], 16)
    return v - 2**64 if v >= 2**63 else v


def _py_winnow(text: str, k: int, w: int):
    toks = text.strip().lower().split()
    if len(toks) >= k:
        grams = [
            _h(" ".join(toks[i:i + k])) for i in range(len(toks) - k + 1)
        ]
    else:
        grams = [_h(" ".join(toks))]
    out = set()
    m = len(grams)
    if m >= w:
        windows = [(i, grams[i:i + w]) for i in range(m - w + 1)]
    else:
        windows = [(0, grams)]
    for start, sl in windows:
        mn = min(sl)
        # rightmost occurrence of the minimum
        pos = start + max(j for j, v in enumerate(sl) if v == mn)
        out.add((pos, mn))
    return out


TEXTS = [
    (1, "the quick brown fox jumps over the lazy dog near the river bank"),
    (2, "a completely different sentence with the quick brown fox jumps over the lazy dog inside it"),
    (3, "nothing in common with either of the others at all whatsoever today"),
    (4, "tiny doc"),
]


def test_fingerprints_match_python_reference(spark):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text"])
    got = {
        (r["doc_id"], r["pos"], r["fp"])
        for r in winnow_fingerprints(df, k=5, w=4, gram_hash="md5").collect()
    }
    want = set()
    for i, t in TEXTS:
        for pos, fp in _py_winnow(t, 5, 4):
            want.add((i, pos, fp))
    assert got == want


def test_shared_run_guarantee(spark):
    """Docs 1 and 2 share a 9-token run (> w + k - 1 = 8), so the paper's
    guarantee demands at least one shared fingerprint; doc 3 shares
    nothing that long with either."""
    df = spark.createDataFrame(TEXTS, ["doc_id", "text"])
    pairs = {
        (r["left_id"], r["right_id"]): r["shared_fps"]
        for r in fingerprint_overlap(df, k=5, w=4).collect()
    }
    assert pairs.get((1, 2), 0) >= 1
    assert (1, 3) not in pairs and (2, 3) not in pairs


def test_max_freq_drops_boilerplate(spark):
    """The cap removes exactly the fingerprints seen in > max_freq docs;
    expected pair counts are recomputed from the winnowed sets themselves
    so the assertion holds under any gram hash (boundary windows may
    legitimately select a header gram in only a few docs — those survive
    the cap by design)."""
    from collections import Counter
    from itertools import combinations

    rows = [(i, "shared boilerplate header text appears in every doc " +
             f"unique tail {i} a{i} b{i} c{i} d{i} e{i}") for i in range(6)]
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    fps = {}
    for r in winnow_fingerprints(df, k=5, w=4).collect():
        fps.setdefault(r["doc_id"], set()).add(r["fp"])

    def pairs(max_freq=None):
        doc_count = Counter(f for s in fps.values() for f in set(s))
        keep = {f for f, c in doc_count.items()
                if max_freq is None or c <= max_freq}
        out = {}
        for a, b in combinations(sorted(fps), 2):
            n = len(fps[a] & fps[b] & keep)
            if n >= 1:
                out[(a, b)] = n
        return out

    allp = {(r["left_id"], r["right_id"]): r["shared_fps"]
            for r in fingerprint_overlap(df, k=5, w=4).collect()}
    capped = {(r["left_id"], r["right_id"]): r["shared_fps"]
              for r in fingerprint_overlap(df, k=5, w=4, max_freq=3).collect()}
    assert allp == pairs()
    assert len(allp) == 15  # the 9-token shared header pairs every doc
    assert capped == pairs(max_freq=3)
    assert len(capped) < len(allp)  # the >3-doc header fps are pruned


def test_plan_stays_native(spark):
    df = spark.createDataFrame(TEXTS, ["doc_id", "text"])
    plan = winnow_fingerprints(df)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan


def test_winnowing_guarantee_property(spark):
    """Schleimer et al.'s theorem, property-tested: ANY shared token run
    of length >= w + k - 1 between two documents yields at least one
    shared fingerprint — regardless of where the run sits or what
    surrounds it. One batched Spark job over all generated cases."""
    import random

    rng = random.Random(20240815)
    vocab = [f"w{j}" for j in range(50)]
    k, w = 4, 3
    run_len = w + k - 1  # 6 tokens guaranteed
    rows, expected_pairs = [], []
    for case in range(12):
        shared = [rng.choice(vocab) for _ in range(run_len)]
        a_pre = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        a_post = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        b_pre = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        b_post = [rng.choice(vocab) for _ in range(rng.randint(0, 8))]
        ida, idb = case * 2, case * 2 + 1
        rows.append((ida, " ".join(a_pre + shared + a_post)))
        rows.append((idb, " ".join(b_pre + shared + b_post)))
        expected_pairs.append((ida, idb))
    df = spark.createDataFrame(rows, ["doc_id", "text"])
    got = {
        (r["left_id"], r["right_id"])
        for r in fingerprint_overlap(df, k=k, w=w).collect()
    }
    for pair in expected_pairs:
        assert pair in got, f"guaranteed shared run missed for {pair}"


def test_overlap_short_circuits_when_cap_prunes_everything(spark):
    """max_freq pruning that empties the sketch must return the empty
    pair frame WITHOUT building the inverted-index self-join (the
    round-8 degenerate worst case: every fingerprint is boilerplate)."""
    from linkml_store_spark.operators.fingerprint import fingerprint_overlap

    docs = spark.createDataFrame(
        [(i, "the same boilerplate text repeated everywhere always") for i in range(6)],
        ["doc_id", "text"],
    )
    out = fingerprint_overlap(docs, max_freq=2)  # every fp in 6 docs > 2
    assert out.count() == 0
    assert out.columns == ["left_id", "right_id", "shared_fps"]
    assert "Join" not in out._jdf.queryExecution().executedPlan().toString()


def test_overlap_unchanged_when_cap_keeps_some(spark):
    from linkml_store_spark.operators.fingerprint import fingerprint_overlap

    docs = spark.createDataFrame(
        [
            (1, "alpha beta gamma delta epsilon zeta eta theta"),
            (2, "alpha beta gamma delta epsilon zeta eta theta"),
            (3, "completely different words having nothing in common here"),
        ],
        ["doc_id", "text"],
    )
    rows = fingerprint_overlap(docs, max_freq=5).collect()
    assert len(rows) == 1 and rows[0]["left_id"] == 1 and rows[0]["right_id"] == 2


def test_all_boilerplate_corpus_prunes_to_empty(spark):
    """An all-boilerplate corpus: the ``max_freq`` cap prunes every
    fingerprint, and the empty-after-prune short-circuit returns the
    empty result without the self-join."""
    from linkml_store_spark.operators import fingerprint as fpmod

    # 60k docs, every text one of 3 boilerplate strings -> every fp in
    # ~20k docs
    texts = [
        "alpha beta gamma delta epsilon zeta eta theta iota kappa",
        "one two three four five six seven eight nine ten",
        "red orange yellow green blue indigo violet pink brown black",
    ]
    docs = spark.range(60_000).selectExpr(
        "id AS doc_id",
        "CASE CAST(id % 3 AS INT) WHEN 0 THEN '" + texts[0] + "' "
        "WHEN 1 THEN '" + texts[1] + "' ELSE '" + texts[2] + "' END AS text",
    )
    out = fpmod.fingerprint_overlap(docs, max_freq=50)
    assert out.count() == 0
    assert "Join" not in out._jdf.queryExecution().executedPlan().toString()


def test_tiny_boilerplate_corpus_prunes_to_empty(spark):
    from linkml_store_spark.operators import fingerprint as fpmod

    docs = spark.createDataFrame(
        [(i, "same boiler plate text here all over again") for i in range(200)],
        ["doc_id", "text"],
    )
    assert fpmod.fingerprint_overlap(docs, max_freq=3).count() == 0


def test_doc_distinct_fps_matches_row_distinct(spark):
    """The array-level per-doc dedup produces EXACTLY the rows the old
    per-(id, fp) dropDuplicates exchange produced."""
    from linkml_store_spark.operators.fingerprint import (
        _doc_distinct_fps,
        winnow_fingerprints,
    )

    docs = spark.createDataFrame(
        [
            (1, "a b c d e f g h i j a b c d e f g h i j"),  # repeats
            (2, "one two three four five six seven eight"),
            (3, "a b c d e"),
        ],
        ["doc_id", "text"],
    )
    got = {
        (r["doc_id"], r["fp"])
        for r in _doc_distinct_fps(docs, "text", "doc_id", 5, 4, "xxhash64").collect()
    }
    want = {
        (r["doc_id"], r["fp"])
        for r in winnow_fingerprints(docs, k=5, w=4)
        .select("doc_id", "fp").distinct().collect()
    }
    assert got == want
