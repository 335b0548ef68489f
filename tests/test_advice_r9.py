"""Pins for the round-9 ADVICE fixes (advisor zone classification,
adaptive-quality NULL groups, dedup_incremental verified-mode guards,
DSIR rounded ranking)."""

import pytest

from linkml_store_spark import collection
from linkml_store_spark.client import Client
from linkml_store_spark.query import Query


def test_zone_partial_not_undecided_on_decided_out_files(
    spark, tmp_path, monkeypatch
):
    """A narrow range fully inside ONE file of a well-clustered store
    decides every other file OUT (meta_count 0, one file scanned): that
    is a zone SUCCESS — the decision must not read as decided-nothing,
    and the advisor must NOT queue a recluster (round-9 ADVICE #1)."""
    import warnings

    client = Client(spark)
    db = client.attach_database(f"spark://{tmp_path}/zc")
    coll = db.create_collection("t", identifier_attribute="id")
    df = spark.createDataFrame([(i, i) for i in range(8000)], ["id", "qty"])
    # clustered layout: 4 files with disjoint qty ranges
    coll.insert(df.repartitionByRange(4, "qty").sortWithinPartitions("qty"))
    monkeypatch.setattr(collection, "CLUSTER_ADVICE_MIN_ROWS", 1000)
    from linkml_store_spark.operators.topk import (
        range_decision,
        stats_filtered_count,
    )

    d = range_decision(coll._zones("qty"), 100, 110, True, False)
    assert d.answer == 0 and len(d.undecided) == 1 < d.units, d
    assert not d.decided_nothing
    path = db._collection_path("t")
    assert stats_filtered_count(spark, path, "qty", 100, 110, True, False) == 10
    # repeated narrow queries must not accumulate advisor hits
    monkey_disabled = coll._cluster_hits.copy()
    with warnings.catch_warnings(record=True) as w:
        warnings.simplefilter("always")
        for lo in (100, 101, 102):
            coll._version.memos.pop(("count", "qty", lo, 110, True, False), None)
            coll._query_spark(
                Query(where_clause={"qty": {"$gte": lo, "$lt": 110}}, limit=0)
            )
    assert coll._cluster_hits.get("qty", 0) == monkey_disabled.get("qty", 0)
    assert not [x for x in w if "compact" in str(x.message)]


def test_adaptive_quality_gates_null_group(spark):
    """Rows with a NULL group key gate against the NULL group's own
    threshold instead of being dropped wholesale (round-9 ADVICE #2)."""
    from linkml_store_spark.operators.quality_model import (
        adaptive_quality_filter,
    )

    rows = (
        [("a", f"doc {i}", float(i)) for i in range(10)]
        + [(None, f"null doc {i}", float(i)) for i in range(10)]
    )
    df = spark.createDataFrame(rows, ["source", "text", "s"])
    out = adaptive_quality_filter(
        df, by="source", quantile=0.2, score_col="s"
    ).collect()
    null_kept = [r for r in out if r["source"] is None]
    # 20th percentile of 0..9 -> threshold 1.8 -> keeps scores >= 1.8
    assert len(null_kept) == 8
    assert len([r for r in out if r["source"] == "a"]) == 8


def test_dedup_incremental_mode_mismatch_raises(spark, tmp_path):
    """verify_threshold against an index built WITHOUT verified mode must
    fail fast with a clear error, not an opaque read failure or a silent
    no-match (round-9 ADVICE #3)."""
    from linkml_store_spark.operators.dedup import dedup_incremental

    docs = spark.createDataFrame(
        [(i, f"some document text number {i} " * 5) for i in range(20)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "bandidx")
    dedup_incremental(docs, idx, "text")  # banded mode: no sets sidecar
    with pytest.raises(ValueError, match="shingle-set sidecar"):
        dedup_incremental(docs, idx, "text", verify_threshold=0.9)


def test_dedup_incremental_sets_written_before_buckets(spark, tmp_path, monkeypatch):
    """Verified mode appends the shingle-set sidecar BEFORE the bucket
    index: a crash between the appends must leave docs invisible (re-run
    safe), never bucket-visible-but-unverifiable (round-9 ADVICE #3)."""
    import os

    from linkml_store_spark.operators import dedup

    docs = spark.createDataFrame(
        [(i, f"totally distinct content {i} " * 5) for i in range(10)],
        ["doc_id", "text"],
    )
    idx = str(tmp_path / "vidx")
    sets = idx + "_sets"

    class Boom(RuntimeError):
        pass

    # crash the BUCKET-index write itself: the sets sidecar must already
    # be on disk by then (write ordering is the recoverability guarantee)
    from pyspark.sql.readwriter import DataFrameWriter

    real_pq = DataFrameWriter.parquet

    def crash_on_bucket_write(self, path, *a, **k):
        if path == idx:
            raise Boom("simulated crash at bucket append")
        return real_pq(self, path, *a, **k)

    monkeypatch.setattr(DataFrameWriter, "parquet", crash_on_bucket_write)
    with pytest.raises(Boom):
        dedup.dedup_incremental(docs, idx, "text", verify_threshold=0.9)
    assert os.path.exists(sets), "sets sidecar must be written first"
    assert not os.path.exists(idx), "bucket append must not have happened"
