"""Focused scale measurement: filter_count / in_count / join_agg at 120M+.

VERDICT r5 item 5: verify the plans (done — $in compiles to ONE pushed
``In`` filter, join_agg broadcast-joins with or without the hint), then
either close these shapes to <=2.5x of same-run DuckDB at 200x or name
the per-core floor. This harness measures, per replica size:

- filter_count / in_count through the JVM plan,
- join_agg, plus its no-join decomposition (same scan + same aggregate
  shape without the dim join) to separate scan cost from join cost,
- same-run DuckDB for every shape.

Same honesty guard as bench.py/scale_experiment.py (shuffle-output bust
before every timed run). Usage:

    python tools/count_scale.py [x200 x1000 ...]   (default: x200)
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from tools.scale_experiment import shuffle_buster, time_best  # noqa: E402

ROOT = "/tmp/spark_graft_scale"


def duckdb_side(d: str) -> dict:
    import duckdb

    con = duckdb.connect()
    for t in ["lineitem", "orders", "customer"]:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{d}/{t}.parquet')"
        )
    qs = {
        "filter_count": "SELECT COUNT(*) FROM lineitem WHERE l_returnflag = 'R'",
        "in_count": """
            SELECT COUNT(*) FROM orders
            WHERE o_orderpriority IN ('1-URGENT', '2-HIGH')""",
        "join_agg": """
            SELECT c_mktsegment, SUM(o_totalprice) FROM orders
            JOIN customer ON o_custkey = c_custkey GROUP BY 1""",
        "agg_nojoin": "SELECT SUM(o_totalprice) FROM orders",
    }
    return {k: time_best(lambda s=v: con.execute(s).fetchall()) for k, v in qs.items()}


def spark_side(spark, d: str) -> dict:
    from pyspark.sql import functions as F

    from linkml_store_spark.where import apply_where

    li = spark.read.parquet(f"{d}/lineitem.parquet")
    o = spark.read.parquet(f"{d}/orders.parquet")
    c = spark.read.parquet(f"{d}/customer.parquet")
    bust = shuffle_buster(spark)
    out = {}
    plans = {
        "filter_count": apply_where(li, {"l_returnflag": "R"}).agg(
            F.count(F.lit(1)).alias("n")
        ),
        "in_count": apply_where(
            o, {"o_orderpriority": {"$in": ["1-URGENT", "2-HIGH"]}}
        ).agg(F.count(F.lit(1)).alias("n")),
        "join_agg": o.join(F.broadcast(c), o.o_custkey == c.c_custkey)
        .groupBy("c_mktsegment")
        .agg(F.sum("o_totalprice").alias("rev")),
        # decomposition: the same fact scan + aggregate without the join
        "agg_nojoin": o.agg(F.sum("o_totalprice").alias("rev")),
    }
    for name, df in plans.items():
        out[name] = time_best(df.collect, before=bust)
    return out


def main() -> None:
    from linkml_store_spark.session import get_spark

    sizes = sys.argv[1:] or ["x200"]
    spark = get_spark(
        app_name="count-scale",
        shuffle_partitions=32,
        extra_conf={"spark.sql.adaptive.enabled": "false"},
    )
    spark.sparkContext.setLogLevel("ERROR")
    for size in sizes:
        d = f"{ROOT}/{size}"
        if not os.path.exists(f"{d}/_DONE"):
            print(f"{size}: replica not generated, skipping")
            continue
        rows = spark.read.parquet(f"{d}/lineitem.parquet").count()
        s = spark_side(spark, d)
        k = duckdb_side(d)
        print(f"\n== {size} (lineitem rows={rows}) ==")
        for q in ["filter_count", "in_count", "join_agg", "agg_nojoin"]:
            print(
                f"{q:14s} spark={s[q]:.3f}s  duckdb={k[q]:.3f}s  "
                f"ratio={s[q] / k[q]:.1f}x"
            )


if __name__ == "__main__":
    main()
