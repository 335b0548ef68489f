"""Round 12: unrolled native pair kernels (functions/vector.py) — the
exact-pair scoring plans (embedding_near_dup_pairs_exact, find_matches
exact path) swap interpreted HOF lambdas for codegen'd unrolled
expressions. These tests pin (a) bit-identity with the HOF forms on
uniform-dim data including nulls and zero vectors, (b) the ragged /
empty / over-cap fallbacks of the ``native_pair_dim`` gate, and (c) the
operators returning identical rows through both paths."""

import math

import pytest
from pyspark.sql import functions as F

from linkml_store_spark.functions.vector import (
    DISTANCE_METRICS,
    PAIR_NATIVE_METRICS,
    native_pair_dim,
    norm,
    norm_native,
)


@pytest.fixture(scope="module")
def spark():
    from linkml_store_spark.session import get_spark

    return get_spark(app_name="test-pair-native")


VECS = [
    (1, [1.0, 2.0, 3.0, 4.0]),
    (2, [0.1, -0.2, 0.3, -0.4]),
    (3, [0.0, 0.0, 0.0, 0.0]),        # zero norm -> cosine 0.0 guard
    (4, None),                         # null vector -> null scores
    (5, [1e-8, 2e154, -3.5, 0.25]),   # magnitude spread
    (6, [1.0, None, 3.0, 4.0]),       # null element -> null propagates
]


@pytest.fixture(scope="module")
def pairs(spark):
    df = spark.createDataFrame(VECS, "id long, v array<double>")
    l = df.select(F.col("id").alias("lid"), F.col("v").alias("a"))
    r = df.select(F.col("id").alias("rid"), F.col("v").alias("b"))
    return l.crossJoin(r)


@pytest.mark.parametrize("metric", ["cosine", "dot", "euclidean", "manhattan"])
def test_native_bit_identical_to_hof(pairs, metric):
    hof = DISTANCE_METRICS[metric](F.col("a"), F.col("b"))
    nat = PAIR_NATIVE_METRICS[metric](F.col("a"), F.col("b"), 4)
    rows = pairs.select("lid", "rid", hof.alias("h"), nat.alias("n")).collect()
    assert len(rows) == 36
    for row in rows:
        if row.h is None:
            assert row.n is None, (row.lid, row.rid)
        elif math.isnan(row.h):
            # e.g. 0-norm x overflowing norm: 0 * inf = nan through BOTH
            # kernels — identical semantics
            assert math.isnan(row.n), (row.lid, row.rid, row.n)
        else:
            # bit-identical, not approximately equal: same fold order
            assert row.h == row.n, (row.lid, row.rid, row.h, row.n)


def test_norm_native_bit_identical(spark):
    df = spark.createDataFrame(VECS, "id long, v array<double>")
    rows = df.select(
        norm(F.col("v")).alias("h"), norm_native(F.col("v"), 4).alias("n")
    ).collect()
    for row in rows:
        assert (row.h is None and row.n is None) or row.h == row.n


def test_cosine_precomputed_norms_match(pairs):
    from linkml_store_spark.functions.vector import pair_cosine_native

    withn = pairs.withColumn("na", norm_native(F.col("a"), 4)).withColumn(
        "nb", norm_native(F.col("b"), 4)
    )
    inline = PAIR_NATIVE_METRICS["cosine"](F.col("a"), F.col("b"), 4)
    pre = pair_cosine_native(
        F.col("a"), F.col("b"), 4, na=F.col("na"), nb=F.col("nb")
    )
    for row in withn.select(inline.alias("i"), pre.alias("p")).collect():
        if row.i is None or (isinstance(row.i, float) and math.isnan(row.i)):
            assert row.p is None or math.isnan(row.p)
        else:
            assert row.i == row.p


def test_native_pair_dim_gate(spark):
    uniform = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0])], "id long, v array<double>"
    )
    assert native_pair_dim(uniform, "v") == 2
    ragged = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, [1.0, 2.0, 3.0])], "id long, v array<double>"
    )
    assert native_pair_dim(ragged, "v") is None
    empty = uniform.filter("id < 0")
    assert native_pair_dim(empty, "v") is None
    allnull = spark.createDataFrame([(1, None)], "id long, v array<double>")
    assert native_pair_dim(allnull, "v") is None
    wide = spark.createDataFrame([(1, [0.5] * 200)], "id long, v array<double>")
    assert native_pair_dim(wide, "v") is None


def test_exact_pairs_operator_paths_agree(spark):
    """embedding_near_dup_pairs_exact: native (uniform) vs HOF (forced via
    a ragged sentinel row that the id filter excludes from pairs)."""
    from linkml_store_spark.operators.dedup import embedding_near_dup_pairs_exact

    base = [(i, [float(i % 5) + 0.1, float(i % 3), 1.0, 0.5]) for i in range(40)]
    uniform = spark.createDataFrame(base, "vec_id long, v array<double>")
    nat = sorted(
        map(tuple, embedding_near_dup_pairs_exact(
            uniform, "v", "vec_id", threshold=0.9
        ).collect())
    )
    # same rows through the HOF path: a ragged decoy row with an id that
    # pairs above every real id flips the gate without adding pairs below
    # the threshold (its cosine against 3-prefix zips is null -> dropped)
    ragged = uniform.union(
        spark.createDataFrame([(10_000, [1.0, 2.0, 3.0])], "vec_id long, v array<double>")
    )
    hof = sorted(
        map(tuple, embedding_near_dup_pairs_exact(
            ragged, "v", "vec_id", threshold=0.9
        ).collect())
    )
    assert nat and nat == hof


def test_find_matches_exact_native_rows(spark):
    from linkml_store_spark.index.search import find_matches

    rows = [(i, [float(i % 7), 1.0, float(i % 3), 2.0]) for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")
    left = df.filter("vec_id < 10")
    right = df.filter("vec_id >= 10")
    for metric in ("cosine", "dot", "euclidean", "manhattan"):
        out = find_matches(
            left, right, vector_col="v", left_id="vec_id", right_id="vec_id",
            top_n=2, metric=metric, method="exact",
        ).collect()
        assert len(out) == 20  # 10 left rows x top 2
        assert all(r.rank in (1, 2) for r in out)


def _broadcast_hinted(df) -> bool:
    """True when the analyzed plan carries a broadcast join hint."""
    plan = df._jdf.queryExecution().analyzed().toString()
    return "strategy=broadcast" in plan


def test_vector_probe_counts_and_sizes(spark):
    from linkml_store_spark.functions.vector import vector_probe

    df = spark.createDataFrame(
        [(1, [1.0, 2.0]), (2, None), (3, [3.0, 4.0, 5.0])],
        "id long, v array<double>",
    )
    assert vector_probe(df, "v") == (3, 2, 3)
    assert vector_probe(df.filter("id < 0"), "v") == (0, None, None)


def test_pair_broadcast_gate_counts_vector_bytes(spark, monkeypatch):
    """Wide vectors over a (patched) byte cap plan the exact pairs with no
    broadcast hint and give the same pairs; the same rows at the old
    row-only gate would have broadcast."""
    from linkml_store_spark.index.search import find_matches
    from linkml_store_spark.operators import dedup

    dim = 256
    rows = [(i, [float((i * 7 + j) % 11) + 0.5 for j in range(dim)])
            for i in range(30)]
    df = spark.createDataFrame(rows, "vec_id long, v array<double>")

    def run():
        near = dedup.embedding_near_dup_pairs_exact(df, "v", threshold=0.9)
        fm = find_matches(df, df, vector_col="v", left_id="vec_id",
                          right_id="vec_id", method="exact", top_n=2)
        return near, fm

    near_b, fm_b = run()
    assert _broadcast_hinted(near_b) and _broadcast_hinted(fm_b)
    # 30 rows x (256 doubles + overhead) is ~63 kB: a 10 kB cap refuses it
    monkeypatch.setattr(dedup, "PAIR_BROADCAST_MAX_BYTES", 10_000)
    assert not dedup.pair_broadcast_fits(30, dim)
    near_s, fm_s = run()
    assert not _broadcast_hinted(near_s) and not _broadcast_hinted(fm_s)
    key = lambda d: sorted(tuple(r) for r in d.collect())  # noqa: E731
    assert key(near_s) == key(near_b) and key(near_b)
    assert key(fm_s) == key(fm_b)
