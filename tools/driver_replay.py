"""Driver-faithful correctness replay: ALL driver-sampled queries, in the
driver's order, in ONE fresh VANILLA SparkSession, value-hashed against
oracle_sql() the way the round driver does (columns sorted by name, rows
sorted by all normalized cells — same canon as tools/oracle_compare.py).

tools/oracle_compare.py runs under OUR session factory and (when scoped)
one query at a time; the round driver runs its own vanilla session and all
sampled queries back-to-back. Round 5's single red row
(span_dedup_incremental) reproduced judge-side in neither mode, so this
harness exists to close the gap: same session shape, same ordering, same
hashing, so any cross-query state (temp views, confs, UDF registrations,
checkpoint eviction) that only manifests in a long session surfaces here.

    env -u PYTHONPATH python tools/driver_replay.py            # r05 sample order
    env -u PYTHONPATH python tools/driver_replay.py --all      # every registered query
"""

from __future__ import annotations

import glob
import json
import os
import sys

from measure import ROOT, load_registry

SF = "/root/testdata/sf0.01"
TABLES = [
    "region", "nation", "customer", "supplier", "part",
    "orders", "lineitem", "events", "documents", "embeddings",
]


def driver_order() -> list[str]:
    """The most recent driver-sampled query list, in driver order."""
    paths = sorted(glob.glob(os.path.join(ROOT, "CORRECTNESS_r*.json")))
    with open(paths[-1]) as f:
        return list(json.load(f))


def main() -> int:
    import duckdb
    from pyspark.sql import SparkSession

    from oracle_compare import canon

    spark = (
        SparkSession.builder.master("local[8]")
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    m = load_registry()
    qs, oracles = m.queries(), m.oracle_sql()

    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{SF}/{t}.parquet')"
        )

    if "--all" in sys.argv:
        names = list(qs)
    elif "--window" in sys.argv:
        # the NEXT round's driver sample: the first 50 registered queries
        names = list(qs)[:50]
    else:
        names = driver_order()
    fails = []
    for name in names:
        if name not in qs:
            print(f"skip {name} (not registered)")
            continue
        try:
            sdf = qs[name](spark, SF).toPandas()
        except Exception as exc:  # noqa: BLE001 — report-and-continue harness
            fails.append(name)
            print(f"FAIL {name}: spark error: {type(exc).__name__}: {str(exc)[:160]}")
            continue
        if name not in oracles:
            print(f"ok   {name}  (no_oracle: {len(sdf)} rows)")
            continue
        odf = con.execute(oracles[name]).fetchdf()
        if sorted(sdf.columns) != sorted(odf.columns):
            fails.append(name)
            print(f"FAIL {name}: schema {sorted(sdf.columns)} vs {sorted(odf.columns)}")
            continue
        if len(sdf) != len(odf):
            fails.append(name)
            print(f"FAIL {name}: rows {len(sdf)} vs {len(odf)}")
            continue
        s_rows, o_rows = canon(sdf), canon(odf)
        if s_rows != o_rows:
            fails.append(name)
            bad = next(i for i, (a, b) in enumerate(zip(s_rows, o_rows)) if a != b)
            print(f"FAIL {name}: hash mismatch at sorted row {bad}")
            print(f"  spark : {s_rows[bad]}")
            print(f"  oracle: {o_rows[bad]}")
            continue
        print(f"ok   {name}  ({len(sdf)} rows, hash match)")
    if fails:
        print(f"\n{len(fails)} DRIVER-REPLAY FAILURES: {fails}")
        return 1
    print(f"\nALL {len(names)} QUERIES HASH-MATCH in one vanilla session")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
