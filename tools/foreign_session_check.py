"""Run the __spark_entry__ contract under a VANILLA SparkSession.

The round driver builds its own session (not ``session.get_spark``), so
none of our defensive confs or PYTHONPATH exports exist: this harness
reproduces that environment exactly and fails loudly if any query needs
something only our session factory provides (nanos-timestamp conf,
package on executor PYTHONPATH, ...). Run after adding any query whose
plan contains a pandas UDF.

    env -u PYTHONPATH python tools/foreign_session_check.py [sf_dir]
"""

from __future__ import annotations

import sys

from measure import load_registry


def main() -> int:
    sf = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.001"
    from pyspark.sql import SparkSession

    spark = (
        SparkSession.builder.master("local[8]")
        # the one conf the real driver is known to set for nanos parquet
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    m = load_registry()

    n = len(m.entry(spark).collect())
    print(f"entry: {n} rows")
    fails = []
    for name, fn in m.QUERIES.items():
        try:
            rows = len(fn(spark, sf).collect())
            print(f"ok   {name}  ({rows} rows)")
        except Exception as ex:  # noqa: BLE001 — report-and-continue harness
            fails.append(name)
            print(f"FAIL {name}: {type(ex).__name__}: {str(ex)[:200]}")
    if fails:
        print(f"\n{len(fails)} FOREIGN-SESSION FAILURES: {fails}")
        return 1
    print("\nALL QUERIES PASS under a vanilla session")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
