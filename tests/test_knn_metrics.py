"""Distance-metric kNN (round 12): euclidean / dot / manhattan through
the brute, IVF-indexed, and Collection routes, parity-pinned against a
driver-side numpy oracle. Reference search itself is cosine-only
(``utils/vector_utils.py:12-38``); the distance metrics mirror the
``embedding_matcher`` surface (``utils/embedding_matcher.py:104-361``)
that ``find_matches``/``ivf_knn_join`` already expose, so single-query
kNN accepts the same four."""

import numpy as np
import pytest
from pyspark.sql import functions as F

EMB = "/root/testdata/sf0.001/embeddings.parquet"


def _oracle(emb_rows, qv, metric, k):
    """Driver-side numpy top-k: (vec_id, score) in rank order."""
    ids = np.array([r["vec_id"] for r in emb_rows])
    M = np.array([list(r["embedding"]) for r in emb_rows], dtype=float)
    q = np.asarray(qv, dtype=float)
    if metric == "cosine":
        n = np.linalg.norm(M, axis=1) * np.linalg.norm(q)
        s = np.where(n == 0, 0.0, (M @ q) / np.where(n == 0, 1.0, n))
        order = np.argsort(-s, kind="stable")
    elif metric == "dot":
        s = M @ q
        order = np.argsort(-s, kind="stable")
    elif metric == "euclidean":
        s = np.linalg.norm(M - q[None, :], axis=1)
        order = np.argsort(s, kind="stable")
    else:
        s = np.abs(M - q[None, :]).sum(axis=1)
        order = np.argsort(s, kind="stable")
    return [(int(ids[i]), float(s[i])) for i in order[:k]]


@pytest.fixture(scope="module")
def emb_rows(spark):
    return spark.read.parquet(EMB).select("vec_id", "embedding").collect()


@pytest.mark.parametrize("metric", ["euclidean", "dot", "manhattan"])
@pytest.mark.parametrize("kernel", ["native", "arrow"])
def test_brute_knn_metric_matches_numpy(spark, emb_rows, metric, kernel):
    from linkml_store_spark.index.search import knn

    qv = [float(x) for x in emb_rows[0]["embedding"]]
    emb = spark.read.parquet(EMB)
    got = knn(
        emb, qv, vector_col="embedding", k=8, kernel=kernel, metric=metric
    ).select("vec_id", "score").collect()
    want = _oracle(emb_rows, qv, metric, 8)
    # scores must match pairwise; id order may differ only within ties
    assert [round(r["score"], 9) for r in got] == [
        round(s, 9) for _, s in want
    ], metric
    assert {r["vec_id"] for r in got} == {i for i, _ in want}


def test_brute_knn_euclidean_ranks_ascending(spark, emb_rows):
    from linkml_store_spark.index.search import knn

    qv = [float(x) for x in emb_rows[0]["embedding"]]
    got = [
        r["score"]
        for r in knn(
            spark.read.parquet(EMB), qv, vector_col="embedding",
            k=10, metric="euclidean",
        ).collect()
    ]
    assert got == sorted(got)
    assert got[0] == 0.0  # the query vector itself is in the corpus


@pytest.mark.parametrize("metric", ["euclidean", "dot"])
def test_ivf_knn_metric_allprobe_exact(spark, emb_rows, metric):
    """All-probe IVF == brute numpy for the distance metrics; the native
    plan keeps the no-Python property (euclidean rides __norm + the
    unrolled dot; dot the dot alone)."""
    from linkml_store_spark.operators.similarity import build_ivf, ivf_knn

    qv = [float(x) for x in emb_rows[1]["embedding"]]
    emb = spark.read.parquet(EMB)
    assigned, cents = build_ivf(
        emb, "embedding", n_centroids=8, with_norm=True, assign_method="native"
    )
    got = ivf_knn(
        assigned, cents, qv, "embedding", k=6, nprobe=8,
        method="native", metric=metric,
    ).select("vec_id", "score").collect()
    want = _oracle(emb_rows, qv, metric, 6)
    assert [round(r["score"], 6) for r in got] == [round(s, 6) for _, s in want]
    s = got and ivf_knn(
        assigned, cents, qv, "embedding", k=6, nprobe=8,
        method="native", metric=metric,
    )
    plan = s._sc._jvm.PythonSQLUtils.explainString(
        s._jdf.queryExecution(), "formatted"
    )
    assert "ArrowEvalPython" not in plan and "BatchEvalPython" not in plan


def test_ivf_knn_arrow_matches_native_euclidean(spark, emb_rows):
    from linkml_store_spark.operators.similarity import build_ivf, ivf_knn

    qv = [float(x) for x in emb_rows[2]["embedding"]]
    emb = spark.read.parquet(EMB)
    assigned, cents = build_ivf(
        emb, "embedding", n_centroids=8, with_norm=True, assign_method="native"
    )
    nat = ivf_knn(assigned, cents, qv, "embedding", k=5, nprobe=3,
                  method="native", metric="euclidean").collect()
    arr = ivf_knn(assigned, cents, qv, "embedding", k=5, nprobe=3,
                  method="arrow", metric="euclidean").collect()
    assert [r["vec_id"] for r in nat] == [r["vec_id"] for r in arr]
    # both kernels use the |v|^2 - 2 v.q + |q|^2 form; the stored __norm
    # vs in-kernel row norms cancel differently near zero, so parity is
    # distance-scale (1e-6), not bit-level
    for a, b in zip(nat, arr):
        assert abs(a["score"] - b["score"]) < 1e-6


def test_ivf_knn_manhattan_requires_arrow(spark, emb_rows):
    from linkml_store_spark.operators.similarity import build_ivf, ivf_knn

    qv = [float(x) for x in emb_rows[0]["embedding"]]
    emb = spark.read.parquet(EMB)
    assigned, cents = build_ivf(
        emb, "embedding", n_centroids=4, with_norm=True, assign_method="native"
    )
    with pytest.raises(ValueError, match="manhattan"):
        ivf_knn(assigned, cents, qv, "embedding", method="native",
                metric="manhattan")
    got = ivf_knn(assigned, cents, qv, "embedding", k=4, nprobe=4,
                  metric="manhattan").select("vec_id", "score").collect()
    want = _oracle(emb_rows, qv, "manhattan", 4)
    assert [round(r["score"], 6) for r in got] == [round(s, 6) for _, s in want]


def test_collection_knn_metric_routes_and_matches(spark, tmp_path, emb_rows):
    """Indexed Collection.knn(metric='euclidean') rides the IVF route and,
    at all-probe, equals the exact brute plan; manhattan falls back to
    brute even when an index exists."""
    from linkml_store_spark.client import Client

    client = Client(spark=spark)
    db = client.attach_database(f"file:{tmp_path}/wh", alias="wh")
    coll = db.create_collection("emb", identifier_attribute="vec_id")
    coll.insert(spark.read.parquet(EMB))
    coll.build_vector_index("embedding", n_centroids=8, nprobe=8)
    qv = [float(x) for x in emb_rows[3]["embedding"]]

    routed = coll.knn(qv, k=5, metric="euclidean").select(
        "vec_id", F.round("score", 6).alias("score")
    ).collect()
    exact = coll.knn(qv, k=5, metric="euclidean", exact=True).select(
        "vec_id", F.round("score", 6).alias("score")
    ).collect()
    assert [tuple(r) for r in routed] == [tuple(r) for r in exact]

    man = coll.knn(qv, k=5, metric="manhattan").select("vec_id", "score").collect()
    want = _oracle(emb_rows, qv, "manhattan", 5)
    assert [round(r["score"], 6) for r in man] == [round(s, 6) for _, s in want]

    res = coll.knn_search(qv, k=5, metric="euclidean")
    assert res.num_rows == 5
    assert [round(s, 6) for s, _ in res.ranked_rows] == [
        round(r["score"], 6) for r in routed
    ]


def test_local_tier_knn_metrics_match_oracle(spark, tmp_path, emb_rows):
    """The in-process local tier serves every metric with the same values
    as the numpy oracle (and therefore the Spark plan it mirrors)."""
    from linkml_store_spark.client import Client
    from linkml_store_spark.operators import localexec as lx

    client = Client(spark=spark)
    db = client.attach_database(f"file:{tmp_path}/wh", alias="wh")
    coll = db.create_collection("emb", identifier_attribute="vec_id")
    coll.insert(spark.read.parquet(EMB))
    qv = [float(x) for x in emb_rows[4]["embedding"]]

    gate = coll._local_tier_gate("knn")
    assert gate is not None, "sf0.001 embeddings must be inside the gate"
    schema, _total = gate
    files = [fp for fp, _md in coll._store_metas()]
    for metric in ("cosine", "dot", "euclidean", "manhattan"):
        rows = lx.local_knn(
            files, schema, "embedding", qv, 6, metric=metric
        )
        want = _oracle(emb_rows, qv, metric, 6)
        assert [round(r["score"], 9) for r in rows] == [
            round(s, 9) for _, s in want
        ], metric
        # end-to-end through the routed API too
        res = coll.knn_search(qv, k=6, metric=metric)
        assert [round(s, 9) for s, _ in res.ranked_rows] == [
            round(s, 9) for _, s in want
        ], metric
