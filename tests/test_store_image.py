"""The local tier's store image (``localexec.StoreImage``): one decoded
Arrow table per collection and store version that every local-tier read
evaluates over.

Pinned here: repeated reads open no parquet file; every write kind
drops the image and the next reads match the Spark path; the resident
images stay inside the byte budget; a column loads alone on first use;
and a write through another handle on the same location is seen by the
next read instead of serving stale rows or naming deleted files.
"""

import logging

import pyarrow.parquet as pq
import pytest

from linkml_store_spark import Database
from linkml_store_spark.operators import localexec as lx
from linkml_store_spark.query import Query

SCHEMA = "id long, cat string, qty double, n long, emb array<double>"


def _rows(n, start=0):
    return [
        (i, None if i % 17 == 0 else f"c{i % 5}",
         None if i % 23 == 0 else float(i % 50), i % 7,
         [float(i % 3) + 1.0, float(i % 5), float(i % 7) + 0.5,
          1.0 + i / 997.0])  # distinct vectors: no kNN score ties
        for i in range(start, start + n)
    ]


def _dicts(rows):
    return [dict(zip(["id", "cat", "qty", "n", "emb"], r)) for r in rows]


@pytest.fixture()
def db(spark, tmp_path):
    db = Database(spark, location=str(tmp_path / "img"))
    t = db.create_collection("t", identifier_attribute="id")
    t.insert(spark.createDataFrame(_rows(300), SCHEMA).repartition(3))
    u = db.create_collection("u", identifier_attribute="id")
    u.insert(spark.createDataFrame(_rows(300, start=1000), SCHEMA))
    dim = db.create_collection("dim", identifier_attribute="dk")
    dim.insert(spark.createDataFrame(
        [(k, f"label{k % 3}") for k in range(7)], "dk long, dlabel string"
    ))
    return db


def _norm_agg(rows, key):
    return sorted(
        ({k: (round(v, 6) if isinstance(v, float) else v)
          for k, v in r.items()} for r in rows),
        key=lambda r: repr(r[key]),
    )


def _reads(coll, v=1):
    """Every local-tier read kind on ``coll``, as comparable values; ``v``
    varies the literals so a second pass is not a result-memo hit."""
    cat = f"c{v}"
    page = coll.find({"qty": {"$gte": 10.0 + v}}, sort_by=["-qty", "id"],
                     limit=5, offset=v)
    unsorted = coll.find({"cat": cat}, limit=7, offset=2)
    agg = coll.query(Query(
        where_clause={"n": {"$lt": 3 + v}}, group_by=["cat"],
        aggs={"s": ("sum", "qty"), "c": ("count", None)}, limit=-1,
    ))
    join = coll.query(Query(
        where_clause={"qty": {"$gte": float(v)}},
        join={"collection": "dim", "left_on": "n", "right_on": "dk"},
        group_by=["dlabel"], aggs={"c": ("count", None)}, limit=-1,
    ))
    knn = coll.knn_search([1.0, float(v), 0.5, 1.0], vector_col="emb", k=5)
    return {
        "count": coll.find({"cat": cat}, limit=0).num_rows,
        "page": (page.num_rows, page.rows),
        # an unsorted page is an arbitrary selection on either tier
        "unsorted": (unsorted.num_rows, len(unsorted.rows)),
        "facet": coll.query_facets({"n": {"$lt": 4 + v}}, ["cat"]),
        "agg": (agg.num_rows, _norm_agg(agg.rows, "cat")),
        "join_agg": (join.num_rows, _norm_agg(join.rows, "dlabel")),
        "knn": [(round(s, 9), r["id"]) for s, r in knn.ranked_rows],
    }


def _spark_reads(coll, monkeypatch, v=1):
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
        return _reads(coll, v)


class _Opens:
    """Counts ``pyarrow.parquet.ParquetFile`` constructions and records
    the columns each ``read`` asks for."""

    def __init__(self, monkeypatch):
        self.n = 0
        self.reads = []
        outer, base = self, pq.ParquetFile

        class Counting(base):
            def __init__(self, *a, **kw):
                outer.n += 1
                super().__init__(*a, **kw)

            def read(self, columns=None, *a, **kw):
                outer.reads.append(list(columns or []))
                return super().read(columns, *a, **kw)

        monkeypatch.setattr(pq, "ParquetFile", Counting)


def test_repeated_reads_open_no_parquet_file(db, monkeypatch):
    t = db.get_collection("t")
    first = _reads(t, v=1)
    opens = _Opens(monkeypatch)
    again = _reads(t, v=1)
    other = _reads(t, v=2)
    assert opens.n == 0, f"repeated reads opened {opens.n} parquet files"
    assert again == first
    assert other == _spark_reads(t, monkeypatch, v=2)


@pytest.mark.parametrize("write", ["insert", "upsert", "update", "delete_where"])
def test_every_write_reloads_the_image(db, monkeypatch, write):
    t = db.get_collection("t")
    assert _reads(t) == _spark_reads(t, monkeypatch)
    before = t._version.memos[("image",)]
    if write == "insert":
        t.insert(_dicts(_rows(20, start=500)))
    elif write == "upsert":
        t.upsert(_dicts(_rows(10, start=295)), filter_fields=["id"])
    elif write == "update":
        t.update([{"id": i, "cat": "zz", "qty": 7.0} for i in range(0, 40, 3)])
    else:
        t.delete_where({"n": 2})
    opens = _Opens(monkeypatch)
    after = _reads(t)
    assert opens.n > 0, "the first reads after a write used the old image"
    img = t._version.memos[("image",)]
    assert img is not before and img.num_rows == t.size()
    assert after == _spark_reads(t, monkeypatch)


def test_resident_images_stay_inside_the_budget(db, monkeypatch, caplog):
    t, u = db.get_collection("t"), db.get_collection("u")
    _reads(t)
    _reads(u)
    sizes = [c._version.memos[("image",)].nbytes for c in (t, u)]
    footer = max(c._footer_totals()[1] for c in (t, u))
    budget = int(max(max(sizes), footer) * 1.2)
    assert budget < sum(sizes), "the budget must not fit both images"
    want = {"t": _spark_reads(t, monkeypatch), "u": _spark_reads(u, monkeypatch)}
    monkeypatch.setattr(lx, "LOCAL_TIER_MAX_BYTES", budget)
    caplog.set_level(logging.DEBUG, logger="linkml_store_spark.localtier")
    for coll in (t, u, t, u):
        assert _reads(coll) == want[coll.alias]
        assert lx.resident_bytes() <= budget
    assert "evicted" in caplog.text and "loaded" in caplog.text


def test_a_new_column_loads_alone(db, monkeypatch):
    t = db.get_collection("t")
    assert t.find({"cat": "c1"}, limit=0).num_rows > 0
    img = t._version.memos[("image",)]
    assert img.columns_loaded == ["cat"]
    cat_buf = img.column("cat").indices.buffers()[1].address
    opens = _Opens(monkeypatch)
    assert t.find({"n": 3}, limit=0).num_rows > 0
    assert opens.reads and all(cols == ["n"] for cols in opens.reads)
    assert img.columns_loaded == ["cat", "n"]  # schema order
    assert img.column("cat").indices.buffers()[1].address == cat_buf


def test_write_through_another_handle_is_seen(spark, tmp_path):
    loc = str(tmp_path / "shared")
    db1 = Database(spark, location=loc)
    c1 = db1.create_collection("t", identifier_attribute="id")
    c1.insert(spark.createDataFrame(_rows(100), SCHEMA))
    w = {"n": {"$lt": 4}}

    def reads(c):
        page = c.find(w, limit=500)
        return (
            c.find(w, limit=0).num_rows,
            c.size(),
            sorted(r["id"] for r in page.rows),
            c.query_facets(w, ["cat"]),
        )

    reads(c1)  # warm every cache of the first handle
    db2 = Database(spark, location=loc)
    db2.get_collection("t").insert(_dicts(_rows(50, start=100)))
    fresh = reads(Database(spark, location=loc).get_collection("t"))
    assert fresh[1] == 150
    assert reads(c1) == fresh


@pytest.mark.parametrize("first", ["find", "size"])
def test_first_read_on_a_new_handle_runs_no_spark_job(spark, tmp_path, first):
    """A new Database over an existing location serves its first read
    from the footers and the store image, as the writing handle would."""
    loc = str(tmp_path / "reopen")
    Database(spark, location=loc).create_collection(
        "t", identifier_attribute="id"
    ).insert(spark.createDataFrame(_rows(100), SCHEMA))
    c = Database(spark, location=loc).get_collection("t")
    calls = {
        "find": lambda: c.find({"n": {"$lt": 4}}, limit=5),
        "size": c.size,
    }
    sc = spark.sparkContext
    group = f"reopen-{first}-{id(c)}"
    sc.setJobGroup(group, "first read on a new handle")
    try:
        got = calls[first]()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup(group) == []
    if first == "find":
        assert got.num_rows == sum(1 for r in _rows(100) if r[3] < 4)
        assert len(got.rows) == 5
    else:
        assert got == 100


def test_threads_share_the_budget(tmp_path, monkeypatch):
    """Threads reading three resident images under a budget that fits one
    get exact answers, and the resident bytes end inside the budget."""
    import random
    import sys
    import threading

    import pyarrow as pa

    images, want = [], []
    for j in range(3):
        files = []
        for f in range(2):
            p = str(tmp_path / f"s{j}_{f}.parquet")
            pq.write_table(pa.table({
                "k": [f"k{(i + j) % 6}" for i in range(2000)],
                "v": [float(i % 97 + j) for i in range(2000)],
            }), p)
            files.append(p)
        img = lx.StoreImage([(p, pq.read_metadata(p)) for p in files],
                            pq.read_schema(files[0]), name=f"s{j}")
        cond = lx.compile_where_local({"v": {"$gte": 50.0}}, img.schema)
        want.append((lx.local_count(files, img.schema, cond, 4000),
                     lx.local_facets(files, img.schema, lambda c: cond,
                                     ["k"], 10, 1)))
        images.append((img, cond))
    images[0][0].columns(["k", "v"])
    budget = int(images[0][0].nbytes * 1.5)
    monkeypatch.setattr(lx, "LOCAL_TIER_MAX_BYTES", budget)
    errors = []

    def worker(seed):
        rng = random.Random(seed)
        try:
            for _ in range(40):
                j = rng.randrange(3)
                img, cond = images[j]
                got = (lx.local_count(img, img.schema, cond, 4000),
                       lx.local_facets(img, img.schema, lambda c: cond,
                                       ["k"], 10, 1))
                assert got == want[j]
        except Exception as e:  # noqa: BLE001 — reported by the main thread
            errors.append(e)

    old = sys.getswitchinterval()
    sys.setswitchinterval(1e-5)
    try:
        threads = [threading.Thread(target=worker, args=(i,)) for i in range(8)]
        for t in threads:
            t.start()
        for t in threads:
            t.join(timeout=120)
    finally:
        sys.setswitchinterval(old)
    assert not any(t.is_alive() for t in threads)
    assert not errors, errors
    assert lx.resident_bytes() <= budget


# ---------------------------------------------------------------------- #
# compact and the advisor's auto-compaction start a new store version
# ---------------------------------------------------------------------- #
QV = [1.0, 2.0, 0.5, 1.0]


def _docs(spark, location, n):
    db = Database(spark, location=location)
    c = db.create_collection("docs", identifier_attribute="id")
    c.insert(spark.createDataFrame(_rows(n), SCHEMA).repartition(3))
    return c


def _scores(res):
    return [round(s, 9) for s, _r in res.ranked_rows]


def _knn_ids(c, **kw):
    return [r["id"] for r in c.knn(QV, vector_col="emb", k=5, **kw).collect()]


@pytest.mark.parametrize("where", [None, {"cat": "c1"}])
def test_spark_path_search_after_compact(spark, tmp_path, monkeypatch, where):
    """The shadow index plan of the old store version names the files
    compact deleted; the next search must plan over the new ones."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    c = _docs(spark, str(tmp_path / "s"), 60)
    before = c.search("c1 3", where=where, limit=5)
    c.compact()
    after = c.search("c1 3", where=where, limit=5)
    assert len(after.rows) == 5 and _scores(after) == _scores(before)
    if where:
        assert all(r["cat"] == "c1" for r in after.rows)


def test_knn_after_compact_drops_an_in_memory_ivf(spark, tmp_path):
    c = _docs(spark, str(tmp_path / "k"), 200)
    c.build_vector_index("emb", n_centroids=4, nprobe=4, durable=False)
    _knn_ids(c)
    c.compact()
    assert _knn_ids(c) == _knn_ids(c, exact=True)
    assert "emb" not in c._vector_indexes


def test_durable_ivf_routes_knn_after_compact(spark, tmp_path, monkeypatch):
    from linkml_store_spark.operators import similarity

    c = _docs(spark, str(tmp_path / "d"), 200)
    c.build_vector_index("emb", n_centroids=4, nprobe=4, durable=True)
    c.compact()
    probes = []
    real = similarity.ivf_knn
    monkeypatch.setattr(
        similarity, "ivf_knn",
        lambda *a, **kw: probes.append(kw["nprobe"]) or real(*a, **kw),
    )
    got = _knn_ids(c)
    assert probes == [4], "knn did not route through the IVF index"
    assert got == _knn_ids(c, exact=True)  # every partition probed: exact


def test_spark_join_plan_follows_the_right_side(spark, tmp_path, monkeypatch):
    """A prepared join+aggregate plan reads the other collection too: a
    write there must not leave this one serving the old right side."""
    monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    db = Database(spark, location=str(tmp_path / "j"))
    f = db.create_collection("f", identifier_attribute="id")
    f.insert(spark.createDataFrame([(i, i % 5) for i in range(50)],
                                   "id long, k long"))
    d = db.create_collection("d", identifier_attribute="dk")
    d.insert(spark.createDataFrame([(k, f"l{k % 2}") for k in range(5)],
                                   "dk long, lab string"))
    q = Query(join={"collection": "d", "left_on": "k", "right_on": "dk"},
              group_by=["lab"], aggs={"n": ("count", None)}, limit=-1)

    def counts():
        return sorted((r["lab"], r["n"]) for r in f.query(q).rows)

    assert counts() == [("l0", 30), ("l1", 20)]
    d.insert(spark.createDataFrame([(0, "l9")], "dk long, lab string"))
    assert counts() == [("l0", 30), ("l1", 20), ("l9", 10)]
