"""``Collection.search`` on an on-disk store: the in-process route (the
shadow index collected once per store version, every later search ranked
in the driver) against the Spark plan, and search after writes."""

import logging
import os

import numpy as np
import pytest

from linkml_store_spark import Database
from linkml_store_spark.index.indexer import SimpleIndexer
from linkml_store_spark.operators import localexec as lx

WORDS = ["river", "stone", "harbor", "lantern", "meadow", "copper",
         "falcon", "orchard", "glacier", "violet", "tundra", "ember",
         "saddle", "quartz", "willow", "beacon"]


def _docs(n=120, seed=7, start=0):
    rng = np.random.default_rng(seed)
    return [
        {"doc_id": start + i,
         "text": " ".join(rng.choice(WORDS, size=int(rng.integers(3, 9))))
         + f" n{start + i}",
         "cat": f"c{i % 3}", "rank": i}
        for i in range(n)
    ]


def _store(spark, tmp_path, name="docs"):
    db = Database(spark, location=str(tmp_path / "db"))
    coll = db.create_collection(name, identifier_attribute="doc_id")
    coll.insert(_docs())
    return coll


def _spark_jobs(coll, fn):
    """(result, Spark jobs ``fn`` ran), counted by a statusTracker job
    group."""
    sc = coll.spark.sparkContext
    group = f"search-{os.urandom(4).hex()}"
    sc.setJobGroup(group, "search routing test")
    try:
        out = fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def _shadow_index(coll, index_name):
    """The in-process index the local route built for the store's current
    version, or None (no build yet, or a refused or failed one)."""
    return coll._version.memos.get(("text_index", coll._indexers[index_name]))


def _spark_route(coll, monkeypatch, fn):
    with monkeypatch.context() as m:
        m.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
        return fn()


PARITY_CASES = {
    "plain": dict(query="harbor lantern copper"),
    "where": dict(query="falcon meadow", where={"cat": "c1"}),
    "where_range": dict(query="quartz willow", where={"rank": {"$gte": 40}}),
    "select_cols": dict(query="glacier ember", select_cols=["doc_id", "cat"]),
    "mmr": dict(query="river stone orchard", mmr_relevance_factor=0.5),
    "template": dict(query="c2: violet tundra", index_name="tpl"),
}


@pytest.mark.parametrize("case", list(PARITY_CASES))
def test_local_route_matches_spark_plan(spark, tmp_path, monkeypatch, case):
    """Same ids and scores (to 1e-9) from the in-process route as from the
    Spark plan, and the in-process route runs no Spark job once built."""
    coll = _store(spark, tmp_path)
    coll.attach_indexer(SimpleIndexer(
        name="tpl", text_template="{{ cat }}: {{ text }}"))
    coll.attach_indexer("simple")
    kw = dict(PARITY_CASES[case], limit=8)
    query = kw.pop("query")
    coll.search(query, **kw)  # builds the in-process index
    local, jobs = _spark_jobs(coll, lambda: coll.search(query, **kw))
    assert jobs == 0
    ref = _spark_route(coll, monkeypatch, lambda: coll.search(query, **kw))
    ref_scores = [s for s, _ in ref.ranked_rows]
    # ties would make the order engine-defined: the data keeps them out
    assert len(set(ref_scores)) == len(ref_scores) == 8
    assert local.rows == ref.rows
    for (a, _), (b, _) in zip(local.ranked_rows, ref.ranked_rows):
        assert abs(a - b) < 1e-9
    if case == "where":
        assert all(r["cat"] == "c1" for r in local.rows)
    if "select_cols" in kw:
        assert set(local.rows[0]) == {"doc_id", "cat"}


def test_later_searches_run_no_spark_job(spark, tmp_path):
    coll = _store(spark, tmp_path)
    _first, first_jobs = _spark_jobs(coll, lambda: coll.search("harbor"))
    assert first_jobs > 0  # the one-time build collects the index plan
    for q in ["stone", "violet ember", "copper falcon meadow"]:
        _res, jobs = _spark_jobs(coll, lambda: coll.search(q, limit=5))
        assert jobs == 0, f"search {q!r} ran {jobs} Spark jobs"


def test_one_index_build_per_store_version(spark, tmp_path, monkeypatch):
    builds = []
    original = SimpleIndexer.collect_index

    def counting(self, df):
        builds.append(self.name)
        return original(self, df)

    monkeypatch.setattr(SimpleIndexer, "collect_index", counting)
    coll = _store(spark, tmp_path)
    for q in ["harbor", "stone river", "quartz"]:
        coll.search(q)
    assert len(builds) == 1
    new = _docs(5, seed=3, start=1000)
    coll.insert(new)
    coll.search("harbor")
    assert len(builds) == 2
    # the rebuilt index serves the new version in process
    assert isinstance(_shadow_index(coll, "simple"), lx.VectorIndex)
    res, jobs = _spark_jobs(coll, lambda: coll.search(new[3]["text"]))
    assert jobs == 0
    assert res.rows[0]["doc_id"] == 1003
    assert len(builds) == 2


def test_failed_build_is_logged_and_not_retried(spark, tmp_path, monkeypatch,
                                                caplog):
    """A shadow-index build that raises sends the search to the Spark plan
    with the failure on the local tier's DEBUG logger, and the store
    version keeps the refusal: the next search does not build again."""
    builds = []

    def failing(self, df):
        builds.append(self.name)
        raise RuntimeError("build boom")

    monkeypatch.setattr(SimpleIndexer, "collect_index", failing)
    coll = _store(spark, tmp_path)
    ref = _spark_route(coll, monkeypatch, lambda: coll.search("harbor"))
    caplog.set_level(logging.DEBUG, logger="linkml_store_spark.localtier")
    for _ in range(2):
        res = coll.search("harbor")
        assert res.rows == ref.rows
    assert builds == ["simple"]
    assert "refused the search (RuntimeError: build boom)" in caplog.text
    assert "refused the search (text index build failed" in caplog.text
    assert _shadow_index(coll, "simple") is None


def test_build_embeds_in_driver_like_the_index_plan(spark, tmp_path):
    """collect_index gives the rows and vectors of index_dataframe, row
    for row, for the plain, single-attribute and template text, and for
    the LLM indexer, without running the embedding UDF."""
    from linkml_store_spark.index.indexer import LLMIndexer

    coll = _store(spark, tmp_path)
    df = coll.df
    for ix in [SimpleIndexer(), SimpleIndexer(index_attributes=["text"]),
               SimpleIndexer(text_template="{{ cat }}: {{ text }}"),
               LLMIndexer(vector_default_length=32)]:
        assert ix._embeds_in_process()
        table, matrix = ix.collect_index(df)
        ref = ix.index_dataframe(df).toArrow()
        assert table.column_names == [c for c in ref.column_names
                                      if c != "__index__"]
        assert table.column("doc_id").to_pylist() == \
            ref.column("doc_id").to_pylist()
        want = lx.vector_matrix(ref.column("__index__"))
        assert matrix.shape == want.shape
        assert np.array_equal(matrix, want)


def test_cached_llm_indexer_collects_its_plan(spark, tmp_path, monkeypatch):
    """An embedding cache must be consulted, so the build collects the
    index plan (hits skip the embedding call) instead of embedding every
    text in the driver."""
    from linkml_store_spark.index.indexer import LLMIndexer

    ix = LLMIndexer(vector_default_length=16,
                    cache_path=str(tmp_path / "cache.parquet"))
    assert not ix._embeds_in_process()
    coll = _store(spark, tmp_path)
    monkeypatch.setattr(LLMIndexer, "embed_texts", lambda self, t: 1 / 0)
    table, matrix = ix.collect_index(coll.df)
    assert matrix.shape == (table.num_rows, 16) == (120, 16)


def test_store_over_byte_check_takes_spark_path(spark, tmp_path, monkeypatch):
    coll = _store(spark, tmp_path)
    _rows, nbytes = lx.footer_totals(coll._store_metas())
    # the footers fit, the 1000-dim embedding matrix does not
    monkeypatch.setattr(lx, "LOCAL_TIER_MAX_BYTES", nbytes + 1000 * 8)
    coll.search("harbor")
    for q in ["stone", "violet"]:
        _res, jobs = _spark_jobs(coll, lambda: coll.search(q))
        assert jobs > 0
    assert _shadow_index(coll, "simple") is None


def test_registered_ivf_index_takes_spark_path(spark, tmp_path, caplog):
    coll = _store(spark, tmp_path)
    coll.attach_indexer("simple")
    coll.build_vector_index(index_name="simple", n_centroids=4, nprobe=4)
    caplog.set_level(logging.DEBUG, logger="linkml_store_spark.localtier")
    for q in ["harbor stone", "violet"]:
        _res, jobs = _spark_jobs(coll, lambda: coll.search(q))
        assert jobs > 0
    # the route refused before building: no shadow index was collected
    assert _shadow_index(coll, "simple") is None
    assert "refused the search (IVF index registered on 'simple')" in caplog.text


@pytest.mark.parametrize("tier", ["local", "spark"])
def test_search_after_writes_on_disk(spark, tmp_path, monkeypatch, tier):
    """Insert, upsert and delete_where between searches on an on-disk
    store: each search sees the current rows (an index plan left over from
    before a write would scan files the write deleted)."""
    if tier == "spark":
        monkeypatch.setenv("SPARK_GRAFT_LOCAL_TIER", "0")
    coll = _store(spark, tmp_path)
    coll.search("harbor")
    coll.insert([{"doc_id": 500, "text": "atlantis poseidonia",
                  "cat": "c9", "rank": 500}])
    assert coll.search("atlantis poseidonia").rows[0]["doc_id"] == 500
    coll.insert([{"doc_id": 501, "text": "atlantis poseidonia deep",
                  "cat": "c9", "rank": 501}])
    top = coll.search("atlantis poseidonia deep", limit=2).rows
    assert [r["doc_id"] for r in top] == [501, 500]
    coll.upsert([{"doc_id": 500, "text": "kraken abyss", "cat": "c9",
                  "rank": 500}], filter_fields=["doc_id"])
    assert coll.search("kraken abyss").rows[0]["doc_id"] == 500
    coll.delete_where({"doc_id": 500})
    ids = [r["doc_id"] for r in coll.search("kraken abyss", limit=200).rows]
    assert 500 not in ids and 501 in ids
