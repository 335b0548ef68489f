"""Distance-metric kNN (round 12): euclidean / dot / manhattan through
the brute, IVF-indexed, and Collection routes, parity-pinned against a
driver-side numpy oracle. Reference search itself is cosine-only
(``utils/vector_utils.py:12-38``); the distance metrics mirror the
``embedding_matcher`` surface (``utils/embedding_matcher.py:104-361``)
that ``find_matches``/``ivf_knn_join`` already expose, so single-query
kNN accepts the same four."""

import glob
import os
import threading
import time

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


@pytest.fixture(scope="module")
def threaded_store(tmp_path_factory):
    """(parquet path, oracle rows) of a seeded 2,000 x 64 float64 store
    with a text column: 128,000 elements, far past the ~9,216 from which
    OpenBLAS threads an ``X @ q``."""
    import pyarrow as pa
    import pyarrow.parquet as pq

    rng = np.random.default_rng(11)
    M = rng.standard_normal((2000, 64))
    words = np.array(["river", "stone", "harbor", "lantern", "meadow",
                      "copper", "falcon", "orchard", "glacier", "violet"])
    texts = [" ".join(rng.choice(words, size=5)) + f" n{i}"
             for i in range(len(M))]
    path = str(tmp_path_factory.mktemp("threaded") / "emb.parquet")
    pq.write_table(pa.table({
        "vec_id": pa.array(range(len(M)), pa.int64()),
        "embedding": pa.array(M.tolist(), pa.list_(pa.float64())),
        "text": texts,
    }), path)
    rows = [{"vec_id": i, "embedding": v} for i, v in enumerate(M.tolist())]
    return path, rows


def test_local_tier_knn_metrics_match_oracle(
    spark, tmp_path, monkeypatch, emb_rows, threaded_store
):
    """The in-process local tier serves every metric with the same values
    as the numpy oracle and as the Spark plan it mirrors, on the test
    embeddings and on a store whose product OpenBLAS would thread."""
    from linkml_store_spark.client import Client
    from linkml_store_spark.operators import localexec as lx

    client = Client(spark=spark)
    db = client.attach_database(f"file:{tmp_path}/wh", alias="wh")
    for store, (path, src) in {
        "emb": (EMB, emb_rows), "threaded": threaded_store
    }.items():
        coll = db.create_collection(store, identifier_attribute="vec_id")
        coll.insert(spark.read.parquet(path))
        qv = [float(x) for x in src[4]["embedding"]]

        admitted, why = coll._local_tier_gate("knn")
        assert admitted is not None, f"the {store} store must be inside the gate ({why})"
        schema = admitted[0]
        files = [fp for fp, _md in coll._store_metas()]
        for metric in ("cosine", "dot", "euclidean", "manhattan"):
            rows = lx.local_knn(
                files, schema, "embedding", qv, 6, metric=metric
            )
            want = _oracle(src, qv, metric, 6)
            assert [round(r["score"], 9) for r in rows] == [
                round(s, 9) for _, s in want
            ], (store, metric)
            # end-to-end through the routed API too
            res = coll.knn_search(qv, k=6, metric=metric)
            assert [round(s, 9) for s, _ in res.ranked_rows] == [
                round(s, 9) for _, s in want
            ], (store, metric)
            if store != "threaded" or metric not in ("cosine", "dot"):
                continue
            with monkeypatch.context() as m:
                m.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
                ref = coll.knn_search(qv, k=6, metric=metric)
            for got in (res, ref):
                assert [r["vec_id"] for r in got.rows] == [i for i, _ in want]
            for (a, _), (b, _), (_i, w) in zip(
                res.ranked_rows, ref.ranked_rows, want
            ):
                assert abs(a - w) < 1e-9 and abs(a - b) < 1e-9, metric


def _thread_cpu_ms():
    """{thread id: utime + stime in ms} of every thread of this process."""
    tick = os.sysconf("SC_CLK_TCK")
    out = {}
    for stat in glob.glob("/proc/self/task/*/stat"):
        try:
            with open(stat) as fh:
                fields = fh.read().rsplit(")", 1)[1].split()
        except FileNotFoundError:  # the thread exited
            continue
        out[int(stat.split("/")[-2])] = (
            (int(fields[11]) + int(fields[12])) * 1000 / tick
        )
    return out


@pytest.mark.skipif(
    not os.path.exists("/proc/self/task"), reason="needs Linux /proc"
)
def test_local_knn_and_search_leave_no_thread_spinning(
    spark, tmp_path, threaded_store
):
    """The in-process kNN and search products run on the calling thread
    alone: no other driver thread gains CPU across them. A product that
    OpenBLAS threads leaves its idle pool threads spinning for 100+ ms of
    CPU after the call."""
    from linkml_store_spark import Database

    path, rows = threaded_store
    coll = Database(spark, location=str(tmp_path / "db")).create_collection(
        "emb", identifier_attribute="vec_id"
    )
    coll.insert(spark.read.parquet(path))
    coll.attach_indexer("simple")
    queries = [rows[i]["embedding"] for i in range(20)]

    def calls():
        for qv in queries:
            assert coll.knn_search(qv, k=10).num_rows == 10
        assert coll.search(
            "harbor lantern", limit=10, mmr_relevance_factor=0.5
        ).num_rows == 10
        time.sleep(0.3)  # a pool thread spins on after the last call

    calls()  # warm: the store image and the in-process text index
    before = _thread_cpu_ms()
    calls()
    after = _thread_cpu_ms()
    me = threading.get_native_id()
    gained = {tid: ms - before.get(tid, 0.0) for tid, ms in after.items()
              if tid != me}
    assert max(gained.values(), default=0.0) <= 20.0, gained
