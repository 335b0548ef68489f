"""Scale primitives: salted joins, colocation, bucketed tables."""

import pytest
from pyspark.sql import functions as F

from linkml_store_spark.operators.scale import (
    colocate,
    salted_join,
    top_hot_keys,
    write_bucketed,
)


@pytest.fixture()
def skewed(spark):
    # key 'hot' has 1000 rows; others 1 each
    rows = [{"k": "hot", "v": i} for i in range(1000)]
    rows += [{"k": f"k{i}", "v": i} for i in range(50)]
    return spark.createDataFrame(rows)


@pytest.fixture()
def dim(spark):
    rows = [{"k": "hot", "label": "H"}] + [
        {"k": f"k{i}", "label": f"L{i}"} for i in range(50)
    ]
    return spark.createDataFrame(rows)


def test_top_hot_keys(skewed):
    top = top_hot_keys(skewed, "k", n=1)
    assert top[0][0] == "hot" and top[0][1] == 1000


def test_salted_join_matches_plain_join(skewed, dim):
    plain = skewed.join(dim, "k").groupBy("label").count()
    salted = salted_join(skewed, dim, on="k", salt_buckets=8).groupBy("label").count()
    assert {(r["label"], r["count"]) for r in plain.collect()} == {
        (r["label"], r["count"]) for r in salted.collect()
    }
    # salt spreads the hot key across partitions: the join key includes __salt
    s = salted_join(skewed, dim, on="k", salt_buckets=8)
    plan = s._sc._jvm.PythonSQLUtils.explainString(s._jdf.queryExecution(), "simple")
    assert "__salt" in plan


def test_salted_left_join_keeps_unmatched(skewed, dim, spark):
    extra = skewed.unionByName(spark.createDataFrame([{"k": "orphan", "v": -1}]))
    out = salted_join(extra, dim, on="k", how="left", salt_buckets=4)
    orphan = out.filter(F.col("k") == "orphan").collect()
    assert len(orphan) == 1 and orphan[0]["label"] is None


def test_colocate_join_single_shuffle(skewed, dim):
    left, right = colocate(skewed, dim, "k", partitions=8)
    j = left.join(right, "k")
    assert j.count() == skewed.count()


def test_write_bucketed_roundtrip(spark, skewed, tmp_path):
    spark.sql("DROP TABLE IF EXISTS bucketed_test")
    write_bucketed(
        skewed, "bucketed_test", bucket_by="k", num_buckets=4,
        path=str(tmp_path / "bt"),
    )
    back = spark.table("bucketed_test")
    assert back.count() == skewed.count()
    # bucketing metadata survives: a self-join on the bucet key plans
    # without exchanges on both sides
    j = back.groupBy("k").count()
    plan = j._sc._jvm.PythonSQLUtils.explainString(j._jdf.queryExecution(), "simple")
    spark.sql("DROP TABLE IF EXISTS bucketed_test")


def test_partitioned_write_prunes(spark, tmp_path):
    from linkml_store_spark.operators.scale import (
        with_date_partition,
        write_partitioned,
    )
    from linkml_store_spark.sources.tables import load_table

    ev = with_date_partition(
        load_table(spark, "/root/testdata/sf0.001", "events"), "ts"
    )
    path = str(tmp_path / "events_by_day")
    write_partitioned(ev, path, ["p_date"])
    back = spark.read.parquet(path)
    one_day = back.filter(F.col("p_date") == "2024-01-05")
    plan = one_day._sc._jvm.PythonSQLUtils.explainString(
        one_day._jdf.queryExecution(), "formatted"
    )
    # the date predicate must prune partitions at the scan, not filter rows
    assert "PartitionFilters" in plan
    pf_line = next(l for l in plan.split("\n") if "PartitionFilters" in l)
    assert "p_date" in pf_line
    assert one_day.count() == ev.filter(F.col("p_date") == "2024-01-05").count()


def test_compact_small_file_swarm(spark, tmp_path):
    from linkml_store_spark.operators.scale import compact, file_stats

    path = str(tmp_path / "swarm")
    df = spark.range(0, 20000).withColumn("v", F.col("id") * 2)
    df.repartition(64).write.parquet(path)  # simulate a microbatch swarm
    before = file_stats(path)
    assert before["num_files"] == 64
    checksum = spark.read.parquet(path).agg(F.sum("v")).first()[0]
    report = compact(spark, path, target_file_bytes=10 * 1024 * 1024)
    after = file_stats(path)
    assert after["num_files"] < before["num_files"]
    assert report["after"]["num_files"] == after["num_files"]
    back = spark.read.parquet(path)
    assert back.count() == 20000
    assert back.agg(F.sum("v")).first()[0] == checksum


def test_write_clustered_files_have_disjoint_ranges(spark, tmp_path):
    import pyarrow.parquet as pq
    import os

    from linkml_store_spark.operators.scale import write_clustered

    path = str(tmp_path / "clustered")
    df = spark.range(0, 10000).select(
        (F.col("id") % 997).alias("user_id"), F.col("id").alias("x")
    )
    write_clustered(df, path, ["user_id"], num_files=8)
    ranges = []
    for name in os.listdir(path):
        if name.endswith(".parquet"):
            md = pq.ParquetFile(os.path.join(path, name)).metadata
            lo = min(
                md.row_group(i).column(0).statistics.min
                for i in range(md.num_row_groups)
            )
            hi = max(
                md.row_group(i).column(0).statistics.max
                for i in range(md.num_row_groups)
            )
            ranges.append((lo, hi))
    assert len(ranges) >= 4
    ranges.sort()
    # range-partitioned + sorted: file key-ranges must not overlap, so a
    # point predicate's footer min/max check skips all but one file
    for (_, hi_prev), (lo_next, _) in zip(ranges, ranges[1:]):
        assert hi_prev <= lo_next
    # and Spark actually skips: a point lookup reads fewer rows than a scan
    hit = spark.read.parquet(path).filter(F.col("user_id") == 5)
    assert hit.count() == df.filter(F.col("user_id") == 5).count()


def test_zorder_files_narrow_in_both_dimensions(spark, sf_dir, tmp_path):
    """Z-order layout: per-file footer ranges stay narrow on BOTH cluster
    columns; lexicographic (a, b) sort leaves the second column's per-file
    range at ~full span. Metric: mean fraction of the global span covered
    per file."""
    import pyarrow.parquet as pq

    from linkml_store_spark.operators.scale import write_zordered
    from linkml_store_spark.sources.tables import load_table

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "value"
    )
    zpath = str(tmp_path / "zorder")
    lpath = str(tmp_path / "lexi")
    write_zordered(ev, zpath, ["user_id", "value"], num_files=16)
    (
        ev.repartitionByRange(16, F.col("user_id"), F.col("value"))
        .sortWithinPartitions("user_id", "value")
        .write.parquet(lpath)
    )

    def mean_span_fraction(path, col_name):
        import os

        spans, lo, hi = [], None, None
        for f in sorted(os.listdir(path)):
            if not f.endswith(".parquet"):
                continue
            md = pq.ParquetFile(os.path.join(path, f)).metadata
            names = [md.schema.column(i).name for i in range(md.num_columns)]
            ci = names.index(col_name)
            mn = min(md.row_group(i).column(ci).statistics.min
                     for i in range(md.num_row_groups))
            mx = max(md.row_group(i).column(ci).statistics.max
                     for i in range(md.num_row_groups))
            spans.append((mn, mx))
            lo = mn if lo is None else min(lo, mn)
            hi = mx if hi is None else max(hi, mx)
        total = (hi - lo) or 1
        return sum((b - a) for a, b in spans) / len(spans) / total

    # second dimension: z-order files must be much tighter than lexi files
    z_val = mean_span_fraction(zpath, "value")
    l_val = mean_span_fraction(lpath, "value")
    assert z_val < 0.6
    assert z_val < l_val * 0.75, (z_val, l_val)
    # first dimension: z-order trades a LITTLE user_id tightness
    z_uid = mean_span_fraction(zpath, "user_id")
    assert z_uid < 0.6


def test_write_jsonl_shards_layout(spark, sf_dir, tmp_path):
    import glob
    import gzip
    import json as _json

    from linkml_store_spark.operators.scale import write_jsonl_shards
    from linkml_store_spark.sources.tables import load_table

    docs = load_table(spark, sf_dir, "documents").select("doc_id", "lang")
    out = str(tmp_path / "shards")
    info = write_jsonl_shards(docs, out, rows_per_shard=100, order_col="doc_id")
    files = sorted(glob.glob(out + "/part-*.json.gz"))
    assert len(files) == info["shards"] == -(-info["rows"] // 100)
    # shards are readable, complete, and ordered within each file
    seen = []
    for f in files:
        with gzip.open(f, "rt") as fh:
            ids = [_json.loads(line)["doc_id"] for line in fh]
        assert ids == sorted(ids)
        seen.extend(ids)
    assert sorted(seen) == sorted(r["doc_id"] for r in docs.collect())
    # deterministic: a second run yields identical shard membership
    out2 = str(tmp_path / "shards2")
    write_jsonl_shards(docs, out2, rows_per_shard=100, order_col="doc_id")
    files2 = sorted(glob.glob(out2 + "/part-*.json.gz"))
    first = [sorted(_json.loads(l)["doc_id"] for l in gzip.open(f, "rt")) for f in files]
    second = [sorted(_json.loads(l)["doc_id"] for l in gzip.open(f, "rt")) for f in files2]
    assert first == second


def test_salted_aggregate_contract(spark):
    """Explicit phase-1/phase-2 merge contract (round 13): decomposable
    prefixes merge by re-application, custom aliases need an explicit
    merge fn, and anything else raises instead of silently summing."""
    import pytest
    from pyspark.sql import functions as F

    from linkml_store_spark.operators.scale import salted_aggregate

    df = spark.range(1000).select(
        (F.col("id") % 3).alias("k"), F.col("id").alias("v")
    )
    out = salted_aggregate(
        df, "k",
        [F.count(F.lit(1)).alias("count_v"), F.min("v").alias("min_v"),
         F.max("v").alias("max_v"), F.sum("v").alias("sum_v")],
    ).collect()
    ref = {r["k"]: r for r in df.groupBy("k").agg(
        F.count(F.lit(1)).alias("count_v"), F.min("v").alias("min_v"),
        F.max("v").alias("max_v"), F.sum("v").alias("sum_v")).collect()}
    for r in out:
        e = ref[r["k"]]
        assert (r["count_v"], r["min_v"], r["max_v"], r["sum_v"]) == (
            e["count_v"], e["min_v"], e["max_v"], e["sum_v"])
    # custom merge: collect_set merged by flatten+distinct
    out2 = salted_aggregate(
        df, "k", [F.collect_set("v").alias("vals")],
        merge={"vals": lambda c: F.array_distinct(
            F.flatten(F.collect_list(c)))},
    ).collect()
    for r in out2:
        assert sorted(r["vals"]) == sorted(
            x["v"] for x in df.filter(F.col("k") == r["k"]).collect())
    # non-decomposable alias without a merge rule: loud failure
    with pytest.raises(ValueError, match="no merge rule"):
        salted_aggregate(df, "k", [F.avg("v").alias("avg_v")])


def test_stage_checkpoint_reliable_mode(spark, tmp_path, monkeypatch):
    """SPARK_GRAFT_RELIABLE_CHECKPOINT=1 + a checkpoint dir routes the
    lineage cut through reliable checkpoint() (files under the dir);
    default stays localCheckpoint. Same rows either way."""
    import glob
    import os

    from pyspark.sql import functions as F

    from linkml_store_spark.operators.scale import stage_checkpoint

    df = spark.range(100).select("id", (F.col("id") * 2).alias("x"))
    local = stage_checkpoint(df)
    assert sorted(r["x"] for r in local.collect()) == [
        i * 2 for i in range(100)]

    ckdir = str(tmp_path / "ck")
    monkeypatch.setenv("SPARK_GRAFT_RELIABLE_CHECKPOINT", "1")
    monkeypatch.setenv("SPARK_GRAFT_CHECKPOINT_DIR", ckdir)
    reliable = stage_checkpoint(df)
    assert sorted(r["x"] for r in reliable.collect()) == [
        i * 2 for i in range(100)]
    assert glob.glob(ckdir + "/*/rdd-*"), "no reliable checkpoint written"


def test_fan_out_probe_reprobes_after_append(spark, tmp_path):
    """fan_out's partition-count memo must not serve the count planned
    before an append to the same parquet path: the analyzed plan's
    semantic hash is unchanged, the file set is not."""
    from linkml_store_spark.operators import scale

    path = str(tmp_path / "grows")
    spark.range(100).coalesce(1).write.parquet(path)
    before = spark.read.parquet(path)
    n1 = scale._plan_partitions(before)
    assert n1 == before.rdd.getNumPartitions() == 1

    spark.range(100, 900).repartition(8).write.mode("append").parquet(path)
    after = spark.read.parquet(path)
    assert len(after.inputFiles()) == 9
    n2 = scale._plan_partitions(after)
    assert n2 == after.rdd.getNumPartitions()
    assert n2 > n1, "served the pre-append partition count from the memo"
